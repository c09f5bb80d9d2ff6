package graft

import scala.jdk.CollectionConverters._

/** Web layer tests (reference contrib/bottle.py equivalent): read API
  * over HTTP with filters, params, paging; JSON out; error paths. */
class WebSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val url = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    (code, body)
  }

  private def parse(s: String): Map[String, Any] =
    new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](s).asScala.toMap

  test("read endpoint: fields, filter with bound params, order, limit") {
    val env = freshEnv()
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (code, body) = get(port,
        "/team?fields=name,country.name&filter=" +
          java.net.URLEncoder.encode("(= country.name {c})", "UTF-8") +
          "&c=Belgium&order=name")
      assert(code == 200, body)
      val m = parse(body)
      assert(m("columns").asInstanceOf[java.util.List[_]].asScala ==
        Seq("name", "country.name"))
      val rows = m("rows").asInstanceOf[java.util.List[java.util.List[_]]]
        .asScala.map(_.asScala.toSeq)
      assert(rows == Seq(Seq("Blue", "Belgium"), Seq("Red", "Belgium")), rows)

      // paging
      val (_, page) = get(port, "/member?fields=name&order=name&limit=1&offset=1")
      assert(parse(page)("rows").asInstanceOf[java.util.List[_]].size == 1)
    } finally srv.stop()
  }

  test("profile endpoint: per-column data card, filter-narrowed") {
    val env = freshEnv()
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (code, body) = get(port, "/_profile/team?fields=name")
      assert(code == 200, body)
      val m = parse(body)
      assert(m("columns").asInstanceOf[java.util.List[_]].asScala == Seq(
        "column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"))
      val rows = m("rows").asInstanceOf[java.util.List[java.util.List[_]]]
        .asScala.map(_.asScala.toSeq)
      assert(rows == Seq(Seq("name", 3, 0, 2, "Blue", "Red")), rows)
      // filters narrow the profiled slice like the read endpoint
      val (_, b2) = get(port, "/_profile/team?fields=name&filter=" +
        java.net.URLEncoder.encode("""(= country.name "France")""", "UTF-8"))
      val r2 = parse(b2)("rows").asInstanceOf[java.util.List[java.util.List[_]]]
        .asScala.map(_.asScala.toSeq)
      assert(r2 == Seq(Seq("name", 1, 0, 1, "Blue", "Blue")), r2)
      // ?group=<col>: per-group cards (the CLI --group twin)
      val (gc, gb) = get(port, "/_profile/team?fields=name,country&group=country")
      assert(gc == 200, gb)
      val gm = parse(gb)
      assert(gm("columns").asInstanceOf[java.util.List[_]].asScala.head
        == "group", gm)
      val gr = gm("rows").asInstanceOf[java.util.List[java.util.List[_]]]
        .asScala.map(_.asScala.toSeq)
      // two countries, one profiled column each
      assert(gr.size == 2 && gr.forall(_(1) == "name"), gr)
      // profiling only the group column refuses
      assert(get(port, "/_profile/team?fields=country&group=country")._1
        == 400)
    } finally srv.stop()
  }

  test("array columns serialize as JSON lists, not toString") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (code, body) = get(port, "/embeddings?fields=vec_id,embedding&limit=1&order=vec_id")
      assert(code == 200, body)
      val rows = parse(body)("rows").asInstanceOf[java.util.List[java.util.List[_]]]
      val emb = rows.get(0).get(1)
      assert(emb.isInstanceOf[java.util.List[_]], s"embedding cell: $emb")
      assert(emb.asInstanceOf[java.util.List[_]].size == 64, emb)
    } finally srv.stop()
  }

  private def post(port: Int, path: String, body: String = null): (Int, String) = {
    val url = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    if (body != null) {
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    (code, text)
  }

  test("write and delete endpoints: upsert via dotted FK fields, delete by filter") {
    val env = freshEnv()
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      // upsert a new member through the full write path (FK resolution)
      val (c1, wrote) = post(port, "/_write/member",
        """{"fields": ["name", "registration_code", "team.country.name", "team.name"],
          | "rows": [["Carol", "004", "France", "Blue"]]}""".stripMargin)
      assert(c1 == 200 && wrote.contains("\"filtered\": 0"), s"$c1 $wrote")
      val (_, after) = get(port, "/member?fields=name&filter=" +
        java.net.URLEncoder.encode("(= registration_code '004')", "UTF-8"))
      assert(after.contains("Carol"), after)

      // delete it back out, with a bound parameter
      val (c2, del) = post(port, "/_delete/member?filter=" +
        java.net.URLEncoder.encode("(= registration_code {rc})", "UTF-8") + "&rc=004")
      assert(c2 == 200 && del.contains("\"deleted\": 1"), s"$c2 $del")
      val (_, gone) = get(port, "/member?fields=name")
      assert(!gone.contains("Carol"), gone)

      // method guards: GET on a mutation path, POST on a read path
      assert(get(port, "/_write/member")._1 == 405)
      assert(post(port, "/member")._1 == 405)
      assert(post(port, "/_write/nope", "{}")._1 == 404)
    } finally srv.stop()
  }

  test("POST /_txn applies a batch atomically; a failing action voids all") {
    val env = freshEnv()
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      // happy path: write + delete visible together
      val (c1, body1) = post(port, "/_txn",
        """{"actions": [
          | {"op": "write", "table": "country", "fields": ["name"],
          |  "rows": [["Italy"]]},
          | {"op": "delete", "table": "member",
          |  "filters": ["(= registration_code {rc})"], "params": {"rc": "003"}}
          |]}""".stripMargin)
      assert(c1 == 200, s"$c1 $body1")
      assert(body1.contains("\"deleted\": 1"), body1)
      val (_, countries) = get(port, "/country?fields=name")
      assert(countries.contains("Italy"), countries)
      val (_, members) = get(port, "/member?fields=name")
      assert(!members.contains("Trudy"), members)

      // failing SECOND action (missing key column) leaves the first
      // invisible — the bottle-plugin per-request rollback contract
      val (c2, body2) = post(port, "/_txn",
        """{"actions": [
          | {"op": "write", "table": "country", "fields": ["name"],
          |  "rows": [["Spain"]]},
          | {"op": "write", "table": "member", "fields": ["name"],
          |  "rows": [["NoKey"]]}
          |]}""".stripMargin)
      assert(c2 == 400, s"$c2 $body2")
      val (_, after) = get(port, "/country?fields=name")
      assert(!after.contains("Spain"), s"first action leaked: $after")

      // malformed batches never start applying
      assert(post(port, "/_txn",
        """{"actions": [{"op": "nope", "table": "country"}]}""")._1 == 400)
      assert(post(port, "/_txn",
        """{"actions": [{"op": "write", "table": "ghost"}]}""")._1 == 400)
      assert(get(port, "/_txn")._1 == 405)
    } finally srv.stop()
  }

  test("ACL read filters bind HTTP clients like library callers") {
    val env = freshEnv()
    env.aclRead = Map("member" -> Seq("(!= name 'Trudy')"))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (_, body) = get(port, "/member?fields=name")
      assert(body.contains("Bob") && body.contains("Alice") && !body.contains("Trudy"), body)
      // the storage-level audit endpoints cannot apply the view-layer
      // ACL filter, so an ACL-guarded table refuses rather than leak
      // hidden rows' key-level changes / column min-max / snapshots
      val (dc, db) = get(port, "/_diff/member")
      assert(dc == 403 && db.contains("ACL"), s"$dc $db")
      assert(get(port, "/_diff/member?profile=true")._1 == 403)
      assert(get(port, "/_snapshots/member")._1 == 403)
      // an un-guarded table still serves its audit
      assert(get(port, "/_snapshots/country")._1 == 200)
    } finally srv.stop()
  }

  test("diff and snapshots endpoints: change audit between retained snapshots") {
    val env = freshEnv(seedTeams = false)
    env.view("member", Seq("registration_code", "name")).write(Seq(
      Seq("A", "X"), Seq("B", "Y")))
    env.view("member", Seq("registration_code", "name")).write(Seq(
      Seq("A", "X2"), Seq("C", "Z")))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (sc, sb) = get(port, "/_snapshots/member")
      assert(sc == 200, sb)
      val snaps = parse(sb)("snapshots")
        .asInstanceOf[java.util.List[_]].asScala.map(_.toString)
      assert(snaps.size >= 2, snaps)
      // default: the two most recent retained snapshots
      val (dc, db) = get(port, "/_diff/member")
      assert(dc == 200, db)
      val dm = parse(db)
      assert(dm("columns").asInstanceOf[java.util.List[_]].asScala
        == Seq("registration_code", "change"), dm)
      val rows = dm("rows").asInstanceOf[java.util.List[java.util.List[_]]]
        .asScala.map(_.asScala.toSeq)
      assert(rows == Seq(Seq("A", "changed"), Seq("C", "added")), rows)
      // explicit from/to agree with the default resolution
      val (_, eb) = get(port,
        s"/_diff/member?from=${snaps(snaps.size - 2)}&to=${snaps.last}")
      assert(parse(eb)("rows").toString == dm("rows").toString, eb)
      // summary rollup
      val (_, sumB) = get(port, "/_diff/member?summary=true")
      val sumRows = parse(sumB)("rows")
        .asInstanceOf[java.util.List[java.util.List[_]]].asScala
        .map(_.asScala.toSeq)
      assert(sumRows == Seq(Seq("added", 1), Seq("changed", 1)), sumRows)
      // profile=true: the per-column drift card
      val (pc, pb) = get(port, "/_diff/member?profile=true")
      assert(pc == 200, pb)
      val pCols = parse(pb)("columns").asInstanceOf[java.util.List[_]]
        .asScala.map(_.toString)
      assert(pCols.head == "column" && pCols.contains("rows_before") &&
        pCols.contains("nulls_delta"), pCols)
      // psi=<col>: the scalar shift gate (registration_code is
      // non-numeric -> loud 400; created_at default timestamps are
      // not comparable here, so the happy path lives in CliSpec)
      assert(get(port, "/_diff/member?psi=registration_code")._1 == 400)
      // unknown snapshot name -> loud 400, unknown table -> 404
      assert(get(port, "/_diff/member?from=snap-999999")._1 == 400)
      assert(get(port, "/_diff/nosuch")._1 == 404)
    } finally srv.stop()
  }

  test("embed endpoint: hashed embeddings into a managed vector table") {
    val root = java.nio.file.Files.createTempDirectory("graft-wh-").toString
    val yaml = SparkSpec.baseYaml +
      """- table: vectors
        |  columns:
        |    registration_code: varchar
        |    embedding: float[]
        |  key: [registration_code]
        |""".stripMargin
    val env = Env(spark, graft.schema.Registry.fromYaml(yaml), root)
    env.createTables()
    env.view("member", Seq("registration_code", "name")).write(Seq(
      Seq("A", "alpha beta gamma"), Seq("B", "alpha beta gamma"),
      Seq("C", "one two three")))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val (code, body) = post(port, "/_embed/member",
        """{"dims": 16, "out": "vectors",
          | "id_col": "registration_code", "text_col": "name"}""".stripMargin)
      assert(code == 200, body)
      assert(body.contains("\"dims\":16") || body.contains("\"dims\": 16"), body)
      val vecs = env.view("vectors", Seq("registration_code", "embedding")).read()
      assert(vecs.count() == 3L)
      // identical texts embed identically; the distinct one differs
      val byId = vecs.collect().map(r =>
        r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(byId("A") == byId("B") && byId("A") != byId("C"), byId.toString)
      // loud errors: missing dims / out; GET refused
      assert(post(port, "/_embed/member", """{"out": "vectors"}""")._1 == 400)
      assert(post(port, "/_embed/member", """{"dims": 8}""")._1 == 400)
      assert(get(port, "/_embed/member")._1 == 405)
      // the embeddings curate recipe over the embedded table: A/B are
      // identical vectors, so exact_dedup bites; the audit lists the
      // vector stages
      val (cc, cb) = post(port, "/_curate/vectors",
        """{"embeddings": true, "scratch": "vrun",
          | "id_col": "registration_code", "k": 2}""".stripMargin)
      assert(cc == 200, cb)
      assert(cb.contains("exact_dedup") && cb.contains("semantic_dedup"), cb)
      val vstages = parse(cb)("stages")
        .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.map(m => m.get("stage").toString ->
          m.get("rows_out").toString.toLong)
      assert(vstages.head._1 == "float32" && vstages.head._2 == 3L, vstages)
      assert(vstages.find(_._1 == "exact_dedup").get._2 == 2L, vstages)
    } finally srv.stop()
  }

  test("curate endpoint: runs the pipeline, returns the stage audit") {
    val env = freshEnv(seedTeams = false)
    // B is an exact copy of A's text; the rest are all-distinct
    env.view("member", Seq("registration_code", "name")).write(Seq(
      Seq("A", "alpha beta gamma delta"), Seq("B", "alpha beta gamma delta"),
      Seq("C", "one two three four"), Seq("D", "red green blue cyan")))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      // scratch is a NAME resolved under <warehouse>/_scratch — an
      // HTTP client can never aim the spill writer at a raw path
      val (code, body) = post(port, "/_curate/member",
        """{"scratch": "run1", "id_col": "registration_code",
          | "text_col": "name"}""".stripMargin)
      assert(code == 200, body)
      val stages = parse(body)("stages")
        .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.map(m => m.get("stage").toString ->
          m.get("rows_out").toString.toLong)
      assert(stages.map(_._1) == Seq("exact_dedup", "near_dedup"), stages)
      assert(stages.head._2 == 3L, stages)  // the exact dup dropped
      assert(new java.io.File(s"${env.warehouse.root}/_scratch/run1")
        .isDirectory)
      // path-shaped scratch names refuse
      assert(post(port, "/_curate/member",
        """{"scratch": "../evil"}""")._1 == 400)
      assert(post(port, "/_curate/member",
        """{"scratch": "/tmp/evil"}""")._1 == 400)
      // GET refused, missing scratch refused
      assert(get(port, "/_curate/member")._1 == 405)
      assert(post(port, "/_curate/member", "{}")._1 == 400)
      // classifier stage plumbing: pos/neg from managed tables adds
      // the stage; one side alone refuses; "html" prepends extraction
      val (c2, b2) = post(port, "/_curate/member",
        """{"scratch": "run2", "id_col": "registration_code",
          | "text_col": "name", "clf_pos": "team", "clf_neg": "country",
          | "gopher": true, "html": true}""".stripMargin)
      assert(c2 == 200 && b2.contains("classifier") && b2.contains("gopher"),
        s"$c2 $b2")
      assert(b2.indexOf("html_extract") >= 0 &&
        b2.indexOf("html_extract") < b2.indexOf("exact_dedup"), b2)
      assert(post(port, "/_curate/member",
        """{"scratch": "run3", "clf_pos": "team"}""")._1 == 400)
      // incremental: "index" is a plain NAME resolved under
      // <root>/_index/; first run bootstraps the corpus index there,
      // a path-shaped name refuses
      val (ic, ib) = post(port, "/_curate/member",
        """{"scratch": "run4", "id_col": "registration_code",
          | "text_col": "name", "index": "corpus1"}""".stripMargin)
      assert(ic == 200 && ib.contains("cross_dedup") &&
        ib.contains("index_update"), s"$ic $ib")
      assert(new java.io.File(
        s"${env.warehouse.root}/_index/corpus1/_graft_index_meta.json")
        .exists())
      assert(post(port, "/_curate/member",
        """{"scratch": "run5", "index": "../evil"}""")._1 == 400)
      // layout maintenance: plain compact returns zone metadata; a
      // z-order body on a non-brin table refuses; GET refused
      val (cpc, cpb) = post(port, "/_compact/member", "")
      assert(cpc == 200 && cpb.contains("zones"), s"$cpc $cpb")
      assert(post(port, "/_compact/member",
        """{"zorder": ["registration_code", "id"]}""")._1 == 400)
      assert(get(port, "/_compact/member")._1 == 405)
    } finally srv.stop()
  }

  test("one long-lived server releases what every request materialized") {
    val env = freshEnv(seedTeams = false)
    env.view("member", Seq("registration_code", "name")).write(Seq(
      Seq("A", "alpha beta gamma delta"), Seq("B", "alpha beta gamma delta"),
      Seq("C", "one two three four"), Seq("D", "red green blue cyan")))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      // run 1 bootstraps the corpus index, run 2 cross-dedups against it
      for (run <- Seq("leak1", "leak2")) {
        val (code, body) = assertReleases(s"curate $run")(post(port,
          "/_curate/member", s"""{"scratch": "$run", "id_col": "registration_code",
            | "text_col": "name", "index": "leaks"}""".stripMargin))
        assert(code == 200 && body.contains("cross_dedup"), body)
      }
      val (wc, wb) = assertReleases("write")(post(port, "/_write/member",
        """{"fields": ["registration_code", "name"],
          | "rows": [["E", "purple"]]}""".stripMargin))
      assert(wc == 200, wb)
      val (rc, rb) = assertReleases("read")(get(port, "/member?fields=name"))
      assert(rc == 200 && rb.contains("purple"), rb)
    } finally srv.stop()
  }

  test("error paths: unknown table 404, bad expression 400") {
    val env = freshEnv()
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      assert(get(port, "/nope")._1 == 404)
      val (code, body) = get(port, "/team?filter=" +
        java.net.URLEncoder.encode("(bogus x)", "UTF-8"))
      assert(code == 400 && body.contains("bogus"), s"$code $body")
    } finally srv.stop()
  }

  test("an HTTP read of one key runs the jobs of the same View.read") {
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: acct
        |  columns: {acct: bigint, bal: bigint}
        |  key: [acct]
        |  buckets: 4
        |""".stripMargin),
      java.nio.file.Files.createTempDirectory("graft-web-jobs-").toString)
    env.createTables()
    env.view("acct", Seq("acct", "bal")).write((1 to 40).map(i => Seq(i.toLong, 10L * i)))
    val filter = "(= bal {b})"
    val view = env.view("acct", Seq("acct", "bal"))
      .read(Seq(graft.view.FilterExpr(filter)), kwargs = Map("b" -> "170"))
    // a read over several partitions: Spark's limit takes its first
    // partition alone, then the rest in a second job
    assert(view.rdd.getNumPartitions > 1)
    val sc = spark.sparkContext
    def jobs[T](body: => T): (T, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.TestBus.drain(sc)
      sc.addSparkListener(l)
      try { val out = body; org.apache.spark.TestBus.drain(sc); (out, n.get) }
      finally sc.removeSparkListener(l)
    }
    val (direct, viewJobs) = jobs(env.view("acct", Seq("acct", "bal"))
      .read(Seq(graft.view.FilterExpr(filter)), kwargs = Map("b" -> "170"))
      .collect().map(_.toSeq).toSeq)
    assert(direct == Seq(Seq(17L, 170L)))
    val srv = new graft.web.Server(env)
    val port = srv.start()
    try {
      val ((code, body), httpJobs) = jobs(get(port, "/acct?fields=acct,bal&filter=" +
        java.net.URLEncoder.encode(filter, "UTF-8") + "&b=170"))
      assert(code == 200, body)
      assert(parse(body)("rows").toString == "[[17, 170]]", body)
      assert(httpJobs == viewJobs, s"HTTP read: $httpJobs jobs, View.read: $viewJobs")
    } finally srv.stop()
  }

  test("a repeated limited read compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: cust
        |  columns: {name: varchar}
        |  key: [name]
        |- table: acct
        |  columns: {acct: bigint, bal: bigint, cust: m2o cust.id}
        |  key: [acct]
        |""".stripMargin),
      java.nio.file.Files.createTempDirectory("graft-web-limit-").toString)
    env.createTables()
    val fields = Seq("acct", "bal", "cust.name")
    env.view("cust", Seq("name")).write(Seq(Seq("Ann"), Seq("Bob")))
    env.view("acct", fields).write((1 to 40).map(i =>
      Seq(i.toLong, 10L * i, if (i % 2 == 0) "Ann" else "Bob")))
    def want(k: Long) = Seq(k, 10 * k, if (k % 2 == 0) "Ann" else "Bob")
    /** `body`'s result and the classes Janino compiled while it ran. */
    def compiled[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    val filter = "(= acct {k})"
    val srv = new graft.web.Server(env)
    val port = srv.start()
    // the web read's default limit, and View.read's own; the FK join
    // puts the limit inside a generated stage
    def http(k: Long) = get(port, s"/acct?fields=${fields.mkString(",")}&filter=" +
      java.net.URLEncoder.encode(filter, "UTF-8") + s"&k=$k")
    def direct(k: Long) = rows(env.view("acct", fields)
      .read(Seq(graft.view.FilterExpr(filter)), kwargs = Map("k" -> k), limit = Some(5L)))
    try {
      http(3); direct(3)
      Seq(7L, 12L, 7L, 25L).foreach { k =>
        val ((code, body), httpClasses) = compiled(http(k))
        assert(code == 200, body)
        assert(parse(body)("rows").toString == want(k).mkString("[[", ", ", "]]"), body)
        assert(httpClasses == 0, s"HTTP read of $k compiled $httpClasses classes")
        val (got, classes) = compiled(direct(k))
        assert(got == Seq(want(k)))
        assert(classes == 0, s"View.read of $k with a limit compiled $classes classes")
      }
    } finally srv.stop()
  }
}
