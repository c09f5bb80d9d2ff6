package graft

/** Ported golden read tests (reference tests/read_test.py). */
class ReadSpec extends SparkSpec {

  test("filters") { // read_test.py:7-26
    val env = freshEnv()
    val v = env.view("team", Seq("name"))
    check(Seq(Seq("Blue")), v.read(Seq("""(= country.name "France")""")))
    check(Nil, v.read(Seq(
      """(= country.name "France")""", """(= country.name "Belgium")""")))
    check(Nil, v.read(Seq("(false)")))
    assert(rows(v.read(Seq("(true)"))).size == 3)
  }

  test("no fields defaults to table definition") { // read_test.py:29-34
    val env = freshEnv()
    check(Seq(Seq("Blue", "Belgium"), Seq("Blue", "France"), Seq("Red", "Belgium")),
      env.view("team").read())
  }

  test("o2m") { // read_test.py:37-42
    val env = freshEnv()
    check(Seq(Seq("Belgium", "Blue"), Seq("Belgium", "Red"),
        Seq("France", "Blue"), Seq("Holland", null)),
      env.view("country", Seq("name", "teams.name")).read())
  }

  test("args: positional, named, implicit, config, lists, objects") { // read_test.py:45-101
    val env = freshEnv()
    env.cfg += ("cfg_team" -> "Red")
    val v = env.view("team", Seq("name"))
    check(Seq(Seq("Blue"), Seq("Blue")),
      v.read(Seq("(= name {name})"), kwargs = Map("name" -> "Blue")))
    check(Seq(Seq("Red")), v.read(Seq("(= name {0})"), args = Seq("Red")))
    check(Seq(Seq("Blue"), Seq("Blue"), Seq("Red")),
      v.read(Seq("(or (= name {0}) (= name {1}))"), args = Seq("Red", "Blue")))
    check(Seq(Seq("Red")), v.read(Seq("(= name {})"), args = Seq("Red")))
    check(Seq(Seq("Blue"), Seq("Blue"), Seq("Red")),
      v.read(Seq("(or (= name {}) (= name {}))"), args = Seq("Red", "Blue")))
    check(Seq(Seq("Red")), v.read(Seq("(in name {cfg_team})")))
    check(Seq(Seq("Blue"), Seq("Blue"), Seq("Red")),
      v.read(Seq("(in name {names})"), kwargs = Map("names" -> Seq("Red", "Blue"))))
    check(Seq(Seq("Red")), v.read(Seq("(in name {data.name})"),
      kwargs = Map("data" -> Map("name" -> "Red"))))
  }

  test("limit and order") { // read_test.py:103-117
    val env = freshEnv()
    val v = env.view("country", Seq("name"))
    check(Seq(Seq("Belgium")), v.read(order = Seq(view.Order("name")), limit = Some(1)))
    check(Seq(Seq("Holland")),
      v.read(order = Seq(view.Order("name", "DESC")), limit = Some(1)))
    check(Seq(Seq("Belgium")),
      v.read(order = Seq(view.Order("name"), view.Order("name")), limit = Some(1)))
    check(Seq(Seq("Belgium")),
      v.read(order = Seq(view.Order("""(!= name "Belgium")""")), limit = Some(1)))
  }

  test("aliases as fields") { // read_test.py:120-141
    val env = freshEnv()
    env.aliases += ("type" -> "TYPE")
    check(Seq(Seq("France", "TYPE")),
      env.viewNamed("country", Seq("name" -> "name", "type" -> "{type}"))
        .read(Seq("""(= name "France")""")))
  }

  test("field expression evaluation") { // read_test.py:144-147
    val env = freshEnv()
    check(Seq(Seq(true), Seq(false), Seq(false)),
      env.view("country", Seq("""(= name "Belgium")""")).read())
  }

  test("aggregation") { // read_test.py:150-209
    val env = freshEnv()
    check(Seq(Seq(3L)), env.view("country", Seq("(count)")).read())
    check(Seq(Seq(3L)), env.view("country", Seq("(sum 1)")).read())
    check(Seq(Seq(1L)), env.view("country", Seq("(min 1)")).read())
    check(Seq(Seq(1L)), env.view("country", Seq("(max 1)")).read())
    check(Seq(Seq(2L)), env.view("country", Seq("(max (+ 1 1))")).read())
    // explicit groupby
    check(Seq(Seq("Blue", 2L), Seq("Red", 1L)),
      env.view("team", Seq("name", "(count)")).read(groupby = Seq("name")))
    // aggregate over all rows
    check(Seq(Seq("Red", 3L)), env.view("team", Seq("(max name)", "(count)")).read())
    // group on fk path not in select
    check(Seq(Seq("Red"), Seq("Blue")),
      env.view("team", Seq("(max name)"))
        .read(groupby = Seq("country.name"), order = Seq(view.Order("country.name"))))
    // auto-groupby
    check(Seq(Seq("Blue", 2L), Seq("Red", 1L)),
      env.view("team", Seq("name", "(count)")).read(order = Seq(view.Order("name"))))
    // group on expression via field name and via raw expression
    val vd = env.viewNamed("team",
      Seq("cnt" -> "(count)", "country_match" -> "(in country 1 2)"))
    rows(vd.read(groupby = Seq("country_match"))).foreach(r => assert(r.head == 3L))
    rows(vd.read(groupby = Seq("(in country 1 2)"))).foreach(r => assert(r.head == 3L))
    // group on several fields
    rows(env.view("team", Seq("(count)")).read(groupby = Seq("name", "country")))
      .foreach(r => assert(r.head == 1L))
  }

  test("cast") { // read_test.py:217-258
    val env = freshEnv()
    rows(env.view("country", Seq("(cast id (varchar))")).read())
      .foreach(r => assert(r.head.isInstanceOf[String]))
    rows(env.view("country", Seq("(cast id (float))")).read())
      .foreach(r => assert(r.head.isInstanceOf[Double]))
    rows(env.view("country", Seq("(cast id (bool))")).read())
      .foreach(r => assert(r.head.isInstanceOf[Boolean]))
    rows(env.view("member", Seq("(cast created_at (date))")).read())
      .foreach(r => assert(r.head.isInstanceOf[java.sql.Date]))
    rows(env.view("member", Seq("""(cast "1970-01-01" (timestamp))""")).read())
      .foreach(r => assert(r.head.isInstanceOf[java.time.LocalDateTime]))
  }

  test("like and ilike") { // read_test.py:261-273
    val env = freshEnv()
    val v = env.view("country", Seq("name"))
    check(Seq(Seq("Belgium"), Seq("France")), v.read(Seq("""(like name "%e%")""")))
    check(Seq(Seq("Holland")), v.read(Seq("""(ilike name "h%")""")))
    check(Seq(Seq("Holland")),
      v.read(Seq("(ilike name {prefix})"), kwargs = Map("prefix" -> "H%")))
  }

  test("distinct") { // read_test.py:331-335
    val env = freshEnv()
    val v = env.view("team", Seq("country.name"))
    assert(rows(v.read(distinct = true)).toSet == rows(v.read()).toSet)
    assert(rows(v.read(distinct = true)).size == 2)
  }

  test("one-row fetch") {
    val env = freshEnv()
    assert(env.view("team", Seq("name"))
      .readOne(Seq("""(= country.name "France")""")).map(_.getString(0))
      .contains("Blue"))
    assert(env.view("team", Seq("name"))
      .readOne(Seq("""(= country.name "Spain")""")).isEmpty)
  }

  test("limit/offset paging") {
    val env = freshEnv()
    val v = env.view("country", Seq("name"))
    check(Seq(Seq("France")),
      v.read(order = Seq(view.Order("name")), limit = Some(1), offset = Some(1)))
  }

  test("acl read filters") { // acl_test.py:22-37
    val env = freshEnv()
    env.aclRead += ("team" -> Seq("""(= country.name "Belgium")"""))
    check(Seq(Seq("Blue"), Seq("Red")), env.view("team", Seq("name")).read())
    check(Seq(Seq("Blue"), Seq("Blue"), Seq("Red")),
      env.view("team", Seq("name")).read(disableAcl = true))
  }

  // ------------------------------------------------- relation memo

  /** External nation/customer parquet tables plus a managed account
    * table with an fk into customer (the tanker crud shape). */
  private def externalEnv(): (Env, java.nio.file.Path) = {
    import graft.schema.{ColumnDef, Registry, TableDef}
    import graft.schema.ColType._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-")
    val nation = dir.resolve("nation").toString
    val customer = dir.resolve("customer").toString
    spark.createDataFrame(Seq(Row(1, "France"), Row(2, "Peru")).asJava,
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType))))
      .write.parquet(nation)
    spark.createDataFrame(Seq(Row(10L, "Ann", 1), Row(11L, "Bob", 2)).asJava,
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType)))).write.parquet(customer)
    val reg = Registry(
      TableDef("nation", Seq(ColumnDef("n_nationkey", IntegerT), ColumnDef("n_name", VarcharT)),
        key = Seq("n_nationkey"), external = Some(nation)),
      TableDef("customer", Seq(ColumnDef("c_custkey", BigIntT), ColumnDef("c_name", VarcharT),
        ColumnDef("c_nationkey", M2O("nation", "n_nationkey", IntegerType))),
        key = Seq("c_custkey"), external = Some(customer)),
      TableDef.normalized("account", Seq(ColumnDef("acct", BigIntT),
        ColumnDef("cust", M2O("customer", "c_custkey", LongType)),
        ColumnDef("balance", FloatT), ColumnDef("tier", IntegerT)), key = Seq("acct")))
    val env = Env(spark, reg, dir.resolve("wh").toString)
    env.createTables()
    env.view("account", Seq("acct", "cust.c_name")).write(Seq(Seq(1L, "Ann"), Seq(2L, "Bob")))
    (env, dir)
  }

  test("a repeated read over two external tables infers no schema again") {
    val (env, _) = externalEnv()
    val fields = Seq("acct", "cust.c_name", "cust.c_nationkey.n_name")
    // a fresh warehouse instance: building the frame resolves (and
    // infers the schema of) both external tables once
    val fresh = Env(spark, env.registry, env.warehouse.root)
    val (_, first) = jobsDuring(fresh.view("account", fields).read())
    assert(first == 2, s"first build ran $first jobs")
    val (df, again) = jobsDuring(
      fresh.view("account", fields).read(Seq("(= acct {})"), args = Seq(2L)))
    assert(again == 0, s"a repeated build ran $again jobs")
    check(Seq(Seq(2L, "Bob", "Peru")), df)
  }

  test("an external table rewritten in place is read anew") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val (env, dir) = externalEnv()
    val v = env.view("nation", Seq("n_nationkey", "n_name"))
    check(Seq(Seq(1, "France"), Seq(2, "Peru")), v.read())
    val byName = env.view("customer", Seq("c_name", "c_nationkey.n_name"))
    check(Seq(Seq("Bob", "Peru")), byName.read(Seq("(= c_custkey 11)")))
    spark.createDataFrame(Seq(Row(1, "France"), Row(2, "Chile"), Row(3, "Chad")).asJava,
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType))))
      .write.mode("overwrite").parquet(dir.resolve("nation").toString)
    check(Seq(Seq(1, "France"), Seq(2, "Chile"), Seq(3, "Chad")), v.read())
    check(Seq(Seq("Bob", "Chile")), byName.read(Seq("(= c_custkey 11)")))
  }

  test("a table joined twice, and an external table joined to itself, read exactly") {
    val env = freshEnv()
    // licensee joins country twice: directly and through member.team
    env.view("licensee", Seq("country.name", "member.registration_code"))
      .write(Seq(Seq("Belgium", "003")))
    val fields = Seq("country.name", "member.name", "member.team.country.name")
    for (_ <- 1 to 2)
      check(Seq(Seq("Belgium", "Trudy", "France")), env.view("licensee", fields).read())
    val (ext, _) = externalEnv()
    val c = ext.warehouse.read("customer")
    val same = ext.warehouse.read("customer")
    val pairs = c.as("a").join(same.as("b"),
      org.apache.spark.sql.functions.col("a.c_nationkey") === org.apache.spark.sql.functions.col("b.c_nationkey"))
      .select("a.c_name", "b.c_name")
    check(Seq(Seq("Ann", "Ann"), Seq("Bob", "Bob")), pairs)
  }

  // ------------------------------------------------- compiled code

  test("a query shape compiles once, whatever values it binds") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (env, _) = externalEnv()
    // the client's model of the account table: acct -> (customer, balance, tier)
    val model = scala.collection.mutable.Map[Long, (String, Double, Int)](
      1L -> ("Ann", 0.0, 0), 2L -> ("Bob", 0.0, 0))
    val nation = Map("Ann" -> "France", "Bob" -> "Peru")
    val upsertFields = Seq("acct", "cust.c_name", "balance", "tier")
    def upsert(keys: Range): Unit = {
      val batch = keys.map(k => k.toLong -> (if (k % 2 == 0) "Ann" else "Bob", k * 1.5, k % 3))
      env.view("account", upsertFields).write(batch.map { case (k, (c, b, t)) => Seq(k, c, b, t) })
      model ++= batch
    }
    upsert(1 to 40)
    /** `body`'s result and the classes Janino compiled while it ran. */
    def compiled[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    /** One warm-up call of a shape, then each value must compile nothing. */
    def compilesOnce[A, T](shape: String, warm: A, values: Seq[A])(op: A => T)(want: A => T): Unit = {
      op(warm)
      values.foreach { v =>
        val (got, classes) = compiled(op(v))
        assert(classes == 0, s"$shape with $v compiled $classes classes")
        assert(got == want(v), s"$shape with $v: got $got, want ${want(v)}")
      }
    }
    val readFields = Seq("acct", "cust.c_name", "cust.c_nationkey.n_name", "balance", "tier")
    compilesOnce("2-hop fk point read", 3L, Seq(7L, 12L, 25L)) { k =>
      rows(env.view("account", readFields).read(Seq("(= acct {})"), args = Seq(k)))
    } { k =>
      val (c, b, t) = model(k)
      Seq(Seq(k, c, nation(c), b, t))
    }
    compilesOnce("grouped scan", 5.0, Seq(10.0, 31.5, 52.5)) { th =>
      rows(env.view("account", Seq("tier", "(sum balance)", "(count)"))
        .read(Seq("(>= balance {})"), args = Seq(th), groupby = Seq("tier"))).toSet
    } { th =>
      model.values.filter(_._2 >= th).groupBy(_._3)
        .map { case (t, as) => Seq[Any](t, as.map(_._2).sum, as.size.toLong) }.toSet
    }
    compilesOnce("plain key lookup", 4L, Seq(9L, 17L, 33L)) { k =>
      rows(env.view("account", Seq("acct", "balance", "tier")).read(Seq("(= acct {})"), args = Seq(k)))
    } { k => Seq(Seq(k, model(k)._2, model(k)._3)) }
    // every upsert inserts new keys, so its `maxId + row_number()`
    // id base moves
    compilesOnce("upsert of new keys", 41 to 50, Seq(51 to 60, 61 to 75))(upsert) { _ => () }
    check(model.toSeq.map { case (k, (c, b, t)) => Seq(k, c, b, t) },
      env.view("account", upsertFields).read())
  }
}
