package graft

import java.nio.file.Files
import graft.schema.Registry

/** Full type-surface round-trips on the kitchensink fixture
  * (FIXTURES.md §2, tests/expression_test.py:8-60, read_test
  * array/jsonb/bytea tests) + introspection (context.py:388-569). */
class TypesSpec extends SparkSpec {

  val kitchensinkYaml: String =
    """- table: kitchensink
      |  columns:
      |    index: integer
      |    "true": bool
      |    "false": bool
      |    "null": varchar
      |    integer: integer
      |    bigint: bigint
      |    float: float
      |    bool: bool
      |    timestamp: timestamp
      |    date: date
      |    varchar: varchar
      |    int_array: integer[]
      |    float_array: float[]
      |    bool_array: bool[]
      |    char_array: varchar[]
      |    floor: float
      |    jsonb: jsonb
      |    bytea: bytea
      |  key: [index]
      |""".stripMargin

  def ksEnv(): Env = {
    val root = Files.createTempDirectory("graft-ks-").toString
    val env = Env(spark, Registry.fromYaml(kitchensinkYaml), root)
    env.createTables()
    env
  }

  test("array round trip + any/all + unnest") { // read_test.py:276-303
    val env = ksEnv()
    env.view("kitchensink", Seq("index", "int_array"))
      .write(Seq(Seq(1, Seq(1, 2))))
    check(Seq(Seq(1, Seq(1, 2))),
      env.view("kitchensink", Seq("index", "int_array")).read())

    val v = env.view("kitchensink", Seq("index"))
    check(Seq(Seq(1)), v.read(Seq("(= 1 (any int_array))")))
    check(Seq(Seq(1)), v.read(Seq("(!= 3 (all int_array))")))
    check(Nil, v.read(Seq("(= 3 (any int_array))")))
    assert(rows(env.viewNamed("kitchensink",
      Seq("index" -> "index", "x" -> "(unnest int_array)")).read()).size == 2)
  }

  test("float and bool arrays") {
    val env = ksEnv()
    env.view("kitchensink", Seq("index", "float_array", "bool_array", "char_array"))
      .write(Seq(Seq(1, Seq(1.0, 2.5), Seq(true, false), Seq("a", "b"))))
    check(Seq(Seq(1, Seq(1.0, 2.5), Seq(true, false), Seq("a", "b"))),
      env.view("kitchensink",
        Seq("index", "float_array", "bool_array", "char_array")).read())
  }

  test("jsonb write from map + ->> access") { // read_test.py:306-320
    val env = ksEnv()
    env.view("kitchensink", Seq("index", "jsonb"))
      .write(Seq(Seq(1, Map("ham" -> "spam"))))
    val v = env.view("kitchensink", Seq("index", "jsonb"))
    check(Seq(Seq(1)), env.view("kitchensink", Seq("index"))
      .read(Seq("""(= "spam" (->> jsonb "ham"))""")))
  }

  test("bytea round trip") { // read_test.py:322-329
    val env = ksEnv()
    val payload = Array[Byte](0x1d, 0xea.toByte, 0xdb.toByte, 0xee.toByte, 0xff.toByte)
    env.view("kitchensink", Seq("index", "bytea")).write(Seq(Seq(1, payload)))
    val got = rows(env.view("kitchensink", Seq("index", "bytea")).read())
    assert(got.head(1).asInstanceOf[Array[Byte]].toSeq == payload.toSeq)
  }

  test("timestamp/date string coercion, 4 formats") { // utils.py:94-111
    val env = ksEnv()
    env.view("kitchensink", Seq("index", "timestamp", "date")).write(Seq(
      Seq(1, "2024-03-01 10:30:00", "2024-03-01"),
      Seq(2, "2024-03-01T10:30:00", "2024-12-31"),
      Seq(3, java.time.LocalDateTime.of(2024, 3, 1, 10, 30), "2024-01-01")))
    val got = rows(env.view("kitchensink", Seq("index", "timestamp")).read(
      order = Seq(view.Order("index"))))
    assert(got(0)(1) == got(1)(1) && got(1)(1) == got(2)(1))
    intercept[IllegalArgumentException] {
      env.view("kitchensink", Seq("index", "timestamp"))
        .write(Seq(Seq(9, "not-a-time")))
    }
  }

  test("reserved-word column names") { // expression_test.py kitchensink
    val env = ksEnv()
    env.view("kitchensink", Seq("index", "true", "false", "null", "floor"))
      .write(Seq(Seq(1, true, false, "n", 1.5)))
    // column names shadow builtins/literals in symbol position
    check(Seq(Seq(1)), env.view("kitchensink", Seq("index"))
      .read(Seq("(= true (true))"))) // col "true" equals literal true
    check(Seq(Seq(1, 1.5)),
      env.view("kitchensink", Seq("index", "floor")).read())
  }

  test("introspection round-trips the registry") { // context.py:388-569
    val root = Files.createTempDirectory("graft-introspect-").toString
    val env = Env(spark, Registry.fromYaml(SparkSpec.baseYaml), root)
    env.createTables()
    env.view("team", Seq("name", "country.name"))
      .write(Seq(Seq("Blue", "Belgium")))

    val env2 = Env.introspect(spark, root)
    for (t <- env.registry.names) {
      val (a, b) = (env.registry(t), env2.registry(t))
      assert(a.key == b.key, s"key mismatch on $t")
      assert(a.columns.map(c => (c.name, c.ctype.decl)) ==
        b.columns.map(c => (c.name, c.ctype.decl)), s"columns mismatch on $t")
      assert(a.columns.map(_.default) == b.columns.map(_.default))
    }
    // and the introspected env can read/write
    check(Seq(Seq("Blue", "Belgium")),
      env2.view("team", Seq("name", "country.name")).read())
    env2.view("team", Seq("name", "country.name"))
      .write(Seq(Seq("Red", "Belgium")))
    assert(rows(env2.view("team").read()).size == 2)
  }

  test("introspection without _SCHEMA.yaml reads each table from _ROOT") {
    val root = Files.createTempDirectory("graft-introspect-root-").toString
    val env = Env(spark, Registry.fromYaml(
      """- table: plain
        |  columns: {name: varchar, v: bigint}
        |  key: [name]
        |- table: bucketed
        |  columns: {code: varchar, v: float}
        |  key: [code]
        |  buckets: 4
        |- table: zoned
        |  columns: {seq: bigint, v: bigint}
        |  key: [seq]
        |  use-index: brin
        |""".stripMargin), root)
    env.createTables()
    env.view("plain", Seq("name", "v")).write(Seq(Seq("a", 1L), Seq("b", 2L)))
    env.view("bucketed", Seq("code", "v")).write(Seq(Seq("x", 1.0), Seq("y", 2.0)))
    env.view("zoned", Seq("seq", "v")).write((1L to 10L).map(i => Seq(i, i)))
    Files.delete(java.nio.file.Paths.get(root, "_SCHEMA.yaml"))
    val auto = Env.introspect(spark, root)
    assert(auto.registry.names.sorted == Seq("bucketed", "plain", "zoned"))
    for (t <- env.registry.names)
      assert(auto.registry(t).columns.map(_.name) ==
        env.registry(t).sparkSchema.fieldNames.toSeq, t)
  }
}
