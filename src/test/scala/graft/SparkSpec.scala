package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.schema.Registry

/** Shared local SparkSession + fixture helpers for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Env.session(master = "local[4]", shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The reference test schema (FIXTURES.md §1, tests/base_test.py:22-60). */
  val baseYaml: String =
    """- table: team
      |  columns:
      |    name: varchar
      |    country: m2o country.id
      |    members: o2m member.team
      |  key: [name, country]
      |- table: country
      |  columns:
      |    name: varchar
      |    teams: o2m team.country
      |    licensees: o2m licensee.country
      |  key: [name]
      |  values:
      |    - name: Belgium
      |    - name: France
      |    - name: Holland
      |- table: member
      |  columns:
      |    name: varchar
      |    registration_code: varchar
      |    created_at: timestamp
      |    team: m2o team.id
      |  key: [registration_code]
      |  defaults:
      |    created_at: current_timestamp
      |- table: licensee
      |  columns:
      |    country: m2o country.id
      |    member: m2o member.id
      |  key: [country, member]
      |""".stripMargin
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark

  /** Fresh Env over a temp warehouse with the base fixture, seeded like
    * tests/base_test.py:100-110. */
  def freshEnv(seedTeams: Boolean = true): Env = {
    val root = Files.createTempDirectory("graft-wh-").toString
    val env = Env(spark, Registry.fromYaml(SparkSpec.baseYaml), root)
    env.createTables()
    if (seedTeams) {
      env.view("team", Seq("name", "country.name")).write(Seq(
        Seq("Blue", "Belgium"), Seq("Red", "Belgium"), Seq("Blue", "France")))
      env.view("member",
        Seq("name", "team.country.name", "team.name", "registration_code"))
        .write(Seq(
          Seq("Bob", "Belgium", "Blue", "001"),
          Seq("Alice", "Belgium", "Red", "002"),
          Seq("Trudy", "France", "Blue", "003")))
    }
    env
  }

  /** Order-insensitive result check (tests/base_test.py:149-154). */
  def check(expected: Seq[Seq[Any]], df: DataFrame): Unit = {
    val got = df.collect().map(_.toSeq).toSeq
    val exp = expected.map(_.toSeq)
    assert(got.sortBy(_.mkString("|")) == exp.sortBy(_.mkString("|")),
      s"\nexpected: $exp\ngot:      $got")
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** Run `body` and count the Spark jobs it started: they carry a job
    * group of their own (Spark hands it to the threads that run query
    * stages), and the listener bus is drained before counting. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs) = jobExecutionsDuring(body)
    (out, jobs.size)
  }

  /** [[jobsDuring]], naming each job's SQL execution: its
    * `spark.sql.execution.id`, None for a job run outside any tracked
    * SQL execution. */
  def jobExecutionsDuring[T](body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run `op` and assert it left nothing materialized: no persistent
    * RDD created while it ran survives it, and the SQL CacheManager is
    * empty. RDDs are compared by id, because the suites of one test
    * group share the JVM and its SparkContext. */
  def assertReleases[T](what: String)(op: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = op
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"$what left persistent RDDs ${left.toSeq.sorted}")
    assert(spark.sharedState.cacheManager.isEmpty, s"$what left SQL cache entries")
    out
  }
}
