package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ported golden write tests (reference tests/write_test.py,
  * delete_test.py). */
class WriteSpec extends SparkSpec {
  import WriteSpec.Shape

  test("no insert") { // write_test.py:10-21
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    v.write(Seq(Seq("Orange", "Holland"), Seq("Blue", "Belgium")), insert = false)
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "Belgium"), Seq("Blue", "France")),
      v.read())
  }

  test("no update") { // write_test.py:24-36
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    v.write(Seq(Seq("Orange", "Holland"), Seq("Blue", "Belgium")), update = false)
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "Belgium"),
      Seq("Blue", "France"), Seq("Orange", "Holland")), v.read())
  }

  test("no fields falls back to table definition") { // write_test.py:39-51
    val env = freshEnv()
    env.view("country").write(Seq(Seq("Italy")))
    check(Seq(Seq("Belgium"), Seq("Italy"), Seq("France"), Seq("Holland")),
      env.view("country").read())
  }

  test("simple purge") { // write_test.py:54-64
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val cnt = v.write(Seq(Seq("Orange", "Holland"), Seq("Blue", "France")),
      purge = true, insert = false, update = false)
    assert(cnt.deleted == 2)
    check(Seq(Seq("Blue", "France")), v.read())
  }

  test("filter purge") { // write_test.py:67-82
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val cnt = v.write(
      Seq(Seq("Red", "Belgium"), Seq("Blue", "France"), Seq("Purple", "France")),
      purge = true, filters = Seq("""(= country.name "Belgium")"""))
    assert(cnt.deleted == 1)
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "France")), v.read())
  }

  test("partial write preserves unmapped columns and ids") { // write_test.py:85-112
    val env = freshEnv()
    val fullView = env.view("member",
      Seq("name", "team.country.name", "team.name", "registration_code"))
    val nameView = env.view("member", Seq("id", "name"))
    val id2name = rows(nameView.read()).map(r => r.head -> r(1)).toMap

    env.view("member", Seq("name", "registration_code"))
      .write(Seq(Seq("Bob", "001")))

    val res = fullView.readOne(Seq("""(= name "Bob")""")).get
    assert(res.toSeq.forall(_ != null))
    rows(nameView.read()).foreach { r => assert(id2name(r.head) == r(1)) }
  }

  test("write by id") { // write_test.py:114-124
    val env = freshEnv()
    val v = env.view("country", Seq("id", "name"))
    val recordId = v.readOne(Seq("""(= name "Belgium")""")).get.getLong(0)
    v.write(Seq(Seq(recordId, "BELGIUM")))
    assert(v.readOne(Seq("""(= name "Belgium")""")).isEmpty)
    assert(v.readOne(Seq("""(= name "BELGIUM")""")).get.getLong(0) == recordId)
  }

  test("nullable fk") { // write_test.py:127-141
    val env = freshEnv()
    env.view("member", Seq("registration_code", "team.name", "team.country.name"))
      .write(Seq(Seq("test", null, null)))
    val res = env.view("member", Seq("team"))
      .readOne(Seq("""(= registration_code "test")""")).get
    assert(res.isNullAt(0))
  }

  test("purge filters") { // write_test.py:144-163
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    v.write(Seq(Seq("Red", "Belgium")), purge = true,
      filters = Seq("""(= country.name "Belgium")"""))
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "France")), v.read())

    v.write(Seq(Seq("Red", "Belgium")), purge = true,
      filters = Seq("""(!= country.name "Belgium")"""))
    check(Seq(Seq("Red", "Belgium")), v.read())
  }

  test("write filters count") { // write_test.py:166-190 shape
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val cnt = v.write(
      Seq(Seq("Yellow", "Belgium"), Seq("Magenta", "France")),
      filters = Seq("""(= country.name "Belgium")"""))
    assert(cnt.filtered == 1)
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "Belgium"), Seq("Blue", "France"),
      Seq("Yellow", "Belgium")), v.read())
  }

  test("null key rejected") { // write_test.py:276-291
    val env = freshEnv()
    def rejects(fields: Seq[String], bogus: Any, why: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        env.view("team", fields).write(Seq(Seq("Pink", bogus)))
      }
      assert(e.getMessage.contains(why), s"$fields <- $bogus: ${e.getMessage}")
    }
    val nullKey = "Null value in key column"
    val unknown = "not known in table"
    // by id: a null fk is a null key column, 0 names no country, and
    // "" is no number at all
    rejects(Seq("name", "country"), null, nullKey)
    rejects(Seq("name", "country"), Long.box(0L), unknown)
    rejects(Seq("name", "country"), "0", unknown)
    rejects(Seq("name", "country"), "", "For input string")
    // through the dotted path: an all-null tuple resolves to a null fk
    for (bogus <- Seq(Long.box(0L), "", "0")) rejects(Seq("name", "country.name"), bogus, unknown)
    rejects(Seq("name", "country.name"), null, nullKey)
    assert(rows(env.view("team", Seq("name")).read(Seq("""(= name "Pink")"""))).isEmpty)
  }

  test("write fk by id: a known id lands and reads back through the dotted path") {
    val env = freshEnv()
    val holland = env.view("country", Seq("id"))
      .readOne(Seq("""(= name "Holland")""")).get.getLong(0)
    env.view("team", Seq("name", "country")).write(Seq(Seq("Orange", holland)))
    check(Seq(Seq("Orange", "Holland")),
      env.view("team", Seq("name", "country.name")).read(Seq("""(= name "Orange")""")))
    // an update by id moves the row's fk and keeps its identity
    val id = env.view("team", Seq("id")).readOne(Seq("""(= name "Red")""")).get.getLong(0)
    val france = env.view("country", Seq("id"))
      .readOne(Seq("""(= name "France")""")).get.getLong(0)
    val belgium = env.view("country", Seq("id"))
      .readOne(Seq("""(= name "Belgium")""")).get.getLong(0)
    env.view("team", Seq("id", "country")).write(Seq(Seq(id, france)))
    check(Seq(Seq(id, "Red", "France")),
      env.view("team", Seq("id", "name", "country.name")).read(Seq("""(= name "Red")""")))
    assert(belgium != france)
  }

  test("write fk by id: an unknown id raises") {
    val env = freshEnv()
    val e = intercept[IllegalArgumentException] {
      env.view("team", Seq("name", "country")).write(Seq(Seq("Orange", 424242L)))
    }
    assert(e.getMessage.contains("not known in table"), e.getMessage)
    assert(e.getMessage.contains("424242"), e.getMessage)
    assert(rows(env.view("team", Seq("name")).read(Seq("""(= name "Orange")"""))).isEmpty)
  }

  test("a dotted write whose tail is the fk target column writes by id") {
    // the fixture's fks target `id`; this schema's fk targets a natural key
    val yaml =
      """- table: customer
        |  columns:
        |    c_custkey: bigint
        |    c_name: varchar
        |  key: [c_custkey]
        |- table: account
        |  columns:
        |    acct: bigint
        |    cust: m2o customer.c_custkey
        |    tier: integer
        |  key: [acct]
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-fkid-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(yaml), root)
    env.createTables()
    env.view("customer", Seq("c_custkey", "c_name"))
      .write(Seq(Seq(7L, "Ann"), Seq(8L, "Bob")))
    env.view("account", Seq("acct", "cust.c_custkey", "tier"))
      .write(Seq(Seq(1L, 7L, 1), Seq(2L, 8L, 2)))
    // the raw m2o column takes the same remote key
    env.view("account", Seq("acct", "cust", "tier")).write(Seq(Seq(3L, 7L, 3)))
    check(Seq(Seq(1L, "Ann", 1), Seq(2L, "Bob", 2), Seq(3L, "Ann", 3)),
      env.view("account", Seq("acct", "cust.c_name", "tier")).read())
    for (fk <- Seq("cust", "cust.c_custkey")) {
      val e = intercept[IllegalArgumentException] {
        env.view("account", Seq("acct", fk, "tier")).write(Seq(Seq(4L, 99L, 4)))
      }
      assert(e.getMessage.contains("not known in table"), s"$fk: ${e.getMessage}")
    }
  }

  test("unknown fk value raises") { // view.py:700-711
    val env = freshEnv()
    val e = intercept[IllegalArgumentException] {
      env.view("team", Seq("name", "country.name"))
        .write(Seq(Seq("Pink", "Narnia")))
    }
    assert(e.getMessage.contains("not known in table"))
  }

  test("a purge write releases everything it cached") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val cnt = assertReleases("purge write")(
      v.write(Seq(Seq("Blue", "France")), purge = true))
    assert(cnt.deleted == 2)
  }

  test("a rejected write releases everything it cached") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val rootFile = java.nio.file.Paths.get(env.warehouse.root, "_ROOT")
    def snaps(): Set[String] = new java.io.File(env.warehouse.root, "team").list()
      .filter(_.startsWith("snap-")).toSet
    // the batch is rejected before any data file is written: no new
    // snapshot directory, and the catalog is the same bytes
    def rejected(what: String)(op: => Unit): IllegalArgumentException = {
      val (snapsBefore, rootBefore) = (snaps(), java.nio.file.Files.readAllBytes(rootFile))
      val e = assertReleases(what)(intercept[IllegalArgumentException](op))
      assert(snaps() == snapsBefore, s"$what left ${snaps() -- snapsBefore}")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(rootFile), rootBefore),
        s"$what changed _ROOT")
      e
    }
    val fk = rejected("unknown-FK write")(v.write(Seq(Seq("Pink", "Narnia"))))
    assert(fk.getMessage.contains("not known in table"), fk.getMessage)
    val nk = rejected("null-key write")(v.write(Seq(Seq("Pink", null))))
    assert(nk.getMessage.contains("Null value in key column"), nk.getMessage)
  }

  /** The jobs `body` ran, how many of them ran outside any tracked SQL
    * execution, the distinct executions the others ran in, and the SQL
    * executions a `QueryExecutionListener` saw. */
  private def shapeOf[T](body: => T): (T, Shape) = {
    import org.apache.spark.sql.execution.QueryExecution
    val tracked = new java.util.concurrent.atomic.AtomicInteger()
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = tracked.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = tracked.incrementAndGet()
    }
    spark.listenerManager.register(queries)
    try {
      val (out, jobs) = jobExecutionsDuring(body)
      (out, Shape(jobs.size, jobs.count(_.isEmpty), jobs.flatten.distinct.size, tracked.get))
    } finally spark.listenerManager.unregister(queries)
  }

  test("a local-batch upsert validates in one pass and commits in one query") {
    val root = java.nio.file.Files.createTempDirectory("graft-shape-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: customer
        |  columns: {c_custkey: bigint, c_name: varchar}
        |  key: [c_custkey]
        |- table: account
        |  columns: {acct: bigint, cust: m2o customer.id, bal: bigint}
        |  key: [acct]
        |""".stripMargin), root)
    env.createTables()
    env.view("customer", Seq("c_custkey", "c_name"))
      .write((1 to 20).map(i => Seq(i.toLong, s"cust-$i")))
    val v = env.view("account", Seq("acct", "cust.c_name", "bal"))
    v.write((1 to 100).map(i => Seq(i.toLong, s"cust-${i % 20 + 1}", i.toLong)))
    // half updates, half new keys, in no key order
    val batch = (51 to 150).reverse.map(i => Seq(i.toLong, s"cust-${i % 7 + 1}", 2L * i))
    val (_, shape) = shapeOf(v.write(batch))
    // one pass resolves the FK, dedupes, validates and caches the
    // batch; one query numbers the new rows and writes the snapshot
    assert(shape.jobs <= 6, s"$shape")
    assert(shape.untracked == 0, s"$shape")
    assert(shape.executions == 2 && shape.tracked == 2, s"$shape")
    check((1 to 150).map { i =>
      val (name, bal) = if (i > 50) (s"cust-${i % 7 + 1}", 2L * i) else (s"cust-${i % 20 + 1}", i.toLong)
      Seq(i.toLong, name, bal, i.toLong)
    }, env.view("account", Seq("acct", "cust.c_name", "bal", "id")).read())
  }

  test("a file-read batch is staged by its footer rows, like a local batch") {
    val yaml = """- table: doc
      |  columns: {doc_id: bigint, text: varchar}
      |  key: [doc_id]
      |""".stripMargin
    def fresh() = {
      val env = Env(spark, graft.schema.Registry.fromYaml(yaml),
        java.nio.file.Files.createTempDirectory("graft-fileread-").toString)
      env.createTables()
      env
    }
    val batch = (1 to 190).map(i => Seq(i.toLong * 7 % 191, s"text $i"))
    val src = java.nio.file.Files.createTempDirectory("graft-src-").resolve("b").toString
    spark.createDataFrame(batch.map(r => Row.fromSeq(r)).asJava, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .repartition(4).write.parquet(src)
    val file = spark.read.parquet(src)
    assert(file.rdd.getNumPartitions > 1)
    val (local, fromFile) = (fresh(), fresh())
    val (_, seqJobs) = jobsDuring(local.view("doc", Seq("doc_id", "text")).write(batch))
    // one partition, like the local batch: no dedupe shuffle, so no
    // job more than the local batch (one more before footer sizing)
    val (_, fileJobs) = jobsDuring(fromFile.view("doc", Seq("doc_id", "text")).write(file))
    assert(fileJobs == seqJobs, s"file read: $fileJobs jobs, local batch: $seqJobs")
    def stored(env: Env) = rows(env.view("doc", Seq("id", "doc_id", "text")).read())
      .sortBy(_(1).asInstanceOf[Long])
    assert(stored(fromFile) == stored(local))
  }

  test("a warehouse write and read start no process, and keep Hadoop's modes") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.store.LocalFs], fs.getClass)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val env = try {
      val env = freshEnv()
      assert(rows(env.view("member", Seq("name", "team.name")).read()).size == 3)
      env
    } finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("graft-procs-", ".jfr")
    try {
      rec.dump(jfr)
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      assert(starts.isEmpty, starts.mkString("\n"))
    } finally { rec.close(); java.nio.file.Files.delete(jfr) }
    // files rw-r--r--, directories rwxr-xr-x: Hadoop's defaults under
    // its 022 umask, as its chmod processes set them
    val walked = java.nio.file.Files.walk(java.nio.file.Path.of(env.warehouse.root))
    try walked.iterator.asScala.filter(p => p.toString.contains("snap-")).foreach { p =>
      val mode = java.nio.file.attribute.PosixFilePermissions.toString(
        java.nio.file.Files.getPosixFilePermissions(p))
      assert(mode == (if (java.nio.file.Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"),
        s"$p: $mode")
    } finally walked.close()
  }

  test("write from maps and single map") { // view.py:398-416
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Map("name" -> "Italy")))
    env.view("country", Seq("name")).write(Map("name" -> "Spain"))
    assert(rows(env.view("country", Seq("name")).read()).size == 5)
  }

  test("write from DataFrame") {
    val env = freshEnv()
    val s = spark
    import s.implicits._
    val df = Seq(("Green", "Holland")).toDF("name", "country.name")
    env.view("team", Seq("name", "country.name")).write(df)
    assert(rows(env.view("team").read()).size == 4)
  }

  test("defaults applied on insert") { // base_test.py:51-52
    val env = freshEnv()
    val created = env.view("member", Seq("created_at"))
      .readOne(Seq("""(= registration_code "001")""")).get
    assert(!created.isNullAt(0))
  }

  test("missing key column rejected") { // write_test.py / view.py:451-467
    val env = freshEnv()
    val e = intercept[IllegalArgumentException] {
      env.view("team", Seq("name")).write(Seq(Seq("Pink")))
    }
    assert(e.getMessage.contains("key"))
  }

  test("delete by data") { // delete_test.py
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val n = v.delete(data = Seq(Seq("Blue", "Belgium")))
    assert(n == 1)
    check(Seq(Seq("Red", "Belgium"), Seq("Blue", "France")), v.read())
  }

  test("delete by data swap") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val n = v.delete(data = Seq(Seq("Blue", "Belgium")), swap = true)
    assert(n == 2)
    check(Seq(Seq("Blue", "Belgium")), v.read())
  }

  test("delete by filter with join") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val n = v.delete(filters = Seq("""(= country.name "Belgium")"""))
    assert(n == 2)
    check(Seq(Seq("Blue", "France")), v.read())
  }

  test("delete all") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    assert(v.delete() == 3)
    check(Nil, v.read())
  }

  /** Root paths of every file scan in the queries `body` ran, cached
    * plans included: what the queries read, by directory. */
  private def scannedDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[String] = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans(qe.executedPlan).foreach(seen.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, seen.toArray.toSeq.map(_.toString))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a one-key delete on a bucketed table reads only its key's bucket") {
    val root = java.nio.file.Files.createTempDirectory("graft-bdel-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: fact
        |  columns: {code: varchar, v: bigint}
        |  key: [code]
        |  buckets: 8
        |""".stripMargin), root)
    env.createTables()
    val v = env.view("fact", Seq("code", "v"))
    v.write((1 to 40).map(i => Seq(s"c$i", i.toLong)))
    val bucket = env.warehouse.bucketIds("fact", Seq(Seq("c7"))).head
    val (n, scanned) = scannedDuring(
      env.view("fact", Seq("code")).delete(data = Seq(Seq("c7"))))
    assert(n == 1)
    val tableScans = scanned.filter(_.contains("/fact/"))
    assert(tableScans.nonEmpty && tableScans.forall(_.endsWith(s"/__b=$bucket")),
      s"bucket $bucket: $scanned")
    assert(rows(v.read()).size == 39)
  }

  test("every delete form returns the rows it removed, on every layout") {
    val root = java.nio.file.Files.createTempDirectory("graft-delcount-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: p
        |  columns: {k: bigint, v: bigint}
        |  key: [k]
        |- table: b
        |  columns: {k: bigint, v: bigint}
        |  key: [k]
        |  buckets: 4
        |- table: z
        |  columns: {k: bigint, v: bigint}
        |  key: [k]
        |  use-index: brin
        |""".stripMargin), root)
    env.createTables()
    for (t <- Seq("p", "b", "z")) {
      val v = env.view(t, Seq("k", "v"))
      val byKey = env.view(t, Seq("k"))
      v.write((1 to 20).map(i => Seq(i.toLong, i.toLong)))
      assert(byKey.delete(data = Seq(Seq(3L), Seq(4L), Seq(99L))) == 2, t)
      assert(v.delete(filters = Seq("(> v 15)")) == 5, t)
      assert(byKey.delete(data = Seq(Seq(1L), Seq(2L), Seq(5L)), swap = true) == 10, t)
      assert(rows(v.read()).map(_.head).toSet == Set[Any](1L, 2L, 5L), t)
      assert(v.delete() == 3, t)
      assert(rows(v.read()).isEmpty, t)
    }
  }

  test("fetch and save") { // base_test.py:172-178, view.py:714-727
    val env = freshEnv()
    env.save("country", Map("name" -> "Italy"))
    val rec = env.fetch("country", """(= name "Italy")""")
    assert(rec.isDefined && rec.get("name") == "Italy")
    assert(env.fetch("country", """(= name "Narnia")""").isEmpty)
  }

  test("seed values written at createTables") { // base_test.py:38-41
    val env = freshEnv(seedTeams = false)
    check(Seq(Seq("Belgium"), Seq("France"), Seq("Holland")),
      env.view("country", Seq("name")).read())
  }

  test("createTables is idempotent") { // init_test.py:4-6
    val env = freshEnv()
    env.createTables()
    check(Seq(Seq("Belgium"), Seq("France"), Seq("Holland")),
      env.view("country", Seq("name")).read())
    assert(rows(env.view("team").read()).size == 3)
  }

  test("surrogate ids deterministic across identical runs") {
    // two-phase id assignment (Write.assignIds) must give every key the
    // same id in two independent envs — id = maxId + rank in key order
    def idMap(): Map[Any, Any] = {
      val env = freshEnv()
      val batch = (1 to 97).map(i => Seq(f"team-$i%03d", "France"))
      env.view("team", Seq("name", "country.name")).write(batch)
      rows(env.view("team", Seq("name", "id")).read())
        .map(r => r.head -> r(1)).toMap
    }
    assert(idMap() == idMap())
  }

  test("surrogate ids follow the key rank across several id ranges") {
    // a batch past one task's worth of rows is range-partitioned and
    // counted per range; ids must still be maxId + global key rank
    val root = java.nio.file.Files.createTempDirectory("graft-ids-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      "- table: big\n  columns:\n    k: bigint\n  key: [k]\n"), root)
    env.createTables()
    val v = env.view("big", Seq("k"))
    v.write(Seq(Seq(-1L), Seq(-2L)))
    val n = 250000L
    // keys arrive scrambled: rank order is not input order
    v.write(spark.range(n).selectExpr("(id * 7919) % 250000 as k"))
    assert(env.warehouse.maxId("big") == n + 2)
    // one range: a small scrambled batch, numbered inside the write
    // query; its stored keys keep their ids, its new keys follow on
    v.write(((0 until 500).map(i => n + (i * 37) % 500) ++ Seq(5L, 0L, 17L)).map(Seq(_)))
    assert(env.warehouse.maxId("big") == n + 502)
    check(Seq(Seq(-2L, 1L), Seq(-1L, 2L)),
      env.view("big", Seq("k", "id")).read(Seq("(< k 0)")))
    val bad = env.view("big", Seq("k", "id")).read(Seq("(>= k 0)"))
      .filter("id != k + 3").count()
    assert(bad == 0)
    assert(v.read().count() == n + 502)
  }

  test("maxId comes from the manifest, not a table scan") {
    val env = freshEnv()
    val before = env.warehouse.maxId("team")
    assert(before == 3L)
    // blow away the data files; the manifest alone must still answer
    val dir = new java.io.File(env.warehouse.root, "team")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    dir.listFiles().filter(_.getName.startsWith("snap-")).foreach(rm)
    assert(env.warehouse.maxId("team") == before)
  }

  test("ids monotone across writes, reset by delete-all") {
    // the same id high-water rule on every layout: the fixture's plain
    // `country`, and a bucketed and a brin table of the same shape
    val root = java.nio.file.Files.createTempDirectory("graft-ids-").toString
    val layouts = Env(spark, graft.schema.Registry.fromYaml(
      """- table: b
        |  columns: {name: varchar}
        |  key: [name]
        |  buckets: 4
        |- table: z
        |  columns: {name: varchar}
        |  key: [name]
        |  use-index: brin
        |""".stripMargin), root)
    layouts.createTables()
    for ((env, t) <- Seq(freshEnv() -> "country", layouts -> "b", layouts -> "z")) {
      val v = env.view(t, Seq("name"))
      v.write(Seq(Seq("Italy")))
      v.write(Seq(Seq("Spain")))
      val ids = rows(env.view(t, Seq("name", "id")).read())
        .map(r => r.head.toString -> r(1).asInstanceOf[Long]).toMap
      assert(ids("Spain") > ids("Italy"), t)
      // reference semantics: max(id) of the live table seeds the next
      // insert, so delete-all restarts ids from 1
      env.view(t).delete()
      v.write(Seq(Seq("Portugal")))
      val fresh = rows(env.view(t, Seq("id")).read()).map(_.head)
      assert(fresh == Seq(1L), t)
    }
  }

  test("writeResult counts update vs insert") {
    val env = freshEnv()
    val v = env.view("team", Seq("name", "country.name"))
    val cnt = v.write(Seq(Seq("Blue", "Belgium"), Seq("Pink", "Holland")))
    assert(cnt.filtered == 0 && cnt.deleted == 0)
    assert(rows(v.read()).size == 4)
  }

  test("runtime table registration with FK-dotted seed values") {
    // reference tests/utils_test.py:60-80 (ctx.register + create_table)
    import graft.schema.{ColType, ColumnDef, TableDef}
    import org.apache.spark.sql.types.LongType
    val env = freshEnv()
    val sponsor = TableDef.normalized("sponsor", Seq(
      ColumnDef("name", ColType.VarcharT),
      ColumnDef("country", ColType.M2O("country", "id", LongType)),
      ColumnDef("type", ColType.VarcharT)),
      key = Seq("name", "country"),
      values = Seq(Map("name" -> "ACME-2000", "country.name" -> "Belgium",
        "type" -> "gold")))
    val env2 = env.register(sponsor)
    check(Seq(Seq("ACME-2000", "Belgium", "gold")),
      env2.view("sponsor").read())
    // pre-existing data untouched; introspection sees the new table
    assert(rows(env2.view("team").read()).size == 3)
    val auto = Env.introspect(spark, env.warehouse.root)
    assert(auto.registry.has("sponsor"))
  }

  test("unicode round trip through writes and filters") {
    // reference tests/encoding_test.py
    val env = freshEnv()
    val v = env.view("country", Seq("name"))
    v.write(Seq(Seq("日本"), Seq("Corée")))
    assert(rows(v.read(Seq("""(= name "日本")"""))) == Seq(Seq("日本")))
    assert(rows(v.read(Seq(graft.view.FilterEq(Map("name" -> "Corée")))))
      == Seq(Seq("Corée")))
  }

  test("snapshot time travel: previous state readable within GC window") {
    val env = freshEnv(seedTeams = false)
    val v = env.view("country", Seq("name"))
    v.write(Seq(Seq("Italy")))
    v.write(Seq(Seq("Spain")))
    val snaps = env.warehouse.snapshots("country")
    assert(snaps.size >= 2, snaps.toString)
    // the previous snapshot still shows the pre-Spain state
    val prev = env.warehouse.readSnapshot("country", snaps(snaps.size - 2))
    assert(rows(prev.select("name")).map(_.head).toSet ==
      Set("Belgium", "France", "Holland", "Italy"))
    // current read sees both writes
    assert(rows(v.read()).map(_.head).toSet ==
      Set("Belgium", "France", "Holland", "Italy", "Spain"))
    intercept[IllegalArgumentException] {
      env.warehouse.readSnapshot("country", "snap-99999")
    }
  }

  test("schema migration: added column null-fills reads, realigns writes") {
    // reference add_columns semantics (tanker/context.py:609-632):
    // reopening a populated warehouse with a schema that has an extra
    // column must not lose data; old snapshots read the new column as
    // NULL, the next write realigns the stored layout.
    val v1 =
      """- table: gadget
        |  columns:
        |    name: varchar
        |    qty: integer
        |  key: [name]
        |""".stripMargin
    val v2 =
      """- table: gadget
        |  columns:
        |    name: varchar
        |    qty: integer
        |    note: varchar
        |  key: [name]
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-mig-").toString
    val e1 = Env(spark, graft.schema.Registry.fromYaml(v1), root)
    e1.createTables()
    e1.view("gadget", Seq("name", "qty")).write(Seq(Seq("a", 1), Seq("b", 2)))

    val e2 = Env(spark, graft.schema.Registry.fromYaml(v2), root)
    e2.createTables() // idempotent: must NOT wipe the populated table
    check(Seq(Seq("a", 1, null), Seq("b", 2, null)),
      e2.view("gadget", Seq("name", "qty", "note")).read())

    // a write through the new schema: note lands, unmapped qty survives
    e2.view("gadget", Seq("name", "note")).write(Seq(Seq("a", "hello")))
    check(Seq(Seq("a", 1, "hello"), Seq("b", 2, null)),
      e2.view("gadget", Seq("name", "qty", "note")).read())

    // the persisted _SCHEMA.yaml now carries the migrated shape
    val auto = Env.introspect(spark, root)
    check(Seq(Seq("a", 1, "hello"), Seq("b", 2, null)),
      auto.view("gadget", Seq("name", "qty", "note")).read())
  }
}

object WriteSpec {
  /** What a write ran (`shapeOf`). */
  final case class Shape(jobs: Int, untracked: Int, executions: Int, tracked: Int)
}
