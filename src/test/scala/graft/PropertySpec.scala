package graft

import org.scalacheck.Gen

/** Property-style tests for the merge algebra (SURVEY §5): write
  * idempotence, purge = set-sync, delete inverse — randomized batches
  * over the fixture schema (ScalaCheck generators, explicit sampling
  * to keep one SparkSession). */
class PropertySpec extends SparkSpec {

  private val seedParams = org.scalacheck.Gen.Parameters.default
  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(seedParams, org.scalacheck.rng.Seed(seed)).get

  private val nameGen = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString.take(8))
  private val countryGen = Gen.oneOf("Belgium", "France", "Holland")
  private val batchGen: Gen[List[(String, String)]] =
    Gen.listOfN(10, Gen.zip(nameGen, countryGen))

  test("write twice = write once (idempotent upsert), ids stable") {
    for (seed <- 1L to 4L) {
      val batch = sample(batchGen, seed)
      val env = freshEnv()
      val v = env.view("team", Seq("name", "country.name"))
      v.write(batch.map(r => Seq(r._1, r._2)))
      val once = rows(v.read()).sortBy(_.mkString("|"))
      val ids1 = rows(env.view("team", Seq("id", "name")).read()).toSet
      v.write(batch.map(r => Seq(r._1, r._2)))
      assert(rows(v.read()).sortBy(_.mkString("|")) == once, s"seed=$seed")
      assert(rows(env.view("team", Seq("id", "name")).read()).toSet == ids1,
        s"seed=$seed")
    }
  }

  test("write with purge = exact set sync") {
    for (seed <- 10L to 13L) {
      val batch = sample(batchGen, seed)
      val env = freshEnv()
      val v = env.view("team", Seq("name", "country.name"))
      v.write(batch.map(r => Seq(r._1, r._2)), purge = true)
      assert(rows(v.read()).toSet ==
        batch.distinct.map(r => Seq(r._1, r._2): Seq[Any]).toSet, s"seed=$seed")
    }
  }

  test("delete by data removes exactly the named keys") {
    for (seed <- 20L to 22L) {
      val batch = sample(batchGen, seed)
      val env = freshEnv()
      val v = env.view("team", Seq("name", "country.name"))
      v.write(batch.map(r => Seq(r._1, r._2)))
      val before = rows(v.read()).toSet
      val victim = batch.head
      v.delete(data = Seq(Seq(victim._1, victim._2)))
      assert(rows(v.read()).toSet == before - Seq(victim._1, victim._2),
        s"seed=$seed")
    }
  }

  test("bucketed and unbucketed merges converge to identical states") {
    // the pruned-merge paths must be observationally equivalent to the
    // simple full-rewrite path for any batch sequence, ids included
    val yaml = (layout: String) =>
      s"""- table: acc
         |  columns:
         |    k: varchar
         |    v: integer
         |  key: [k]
         |$layout""".stripMargin
    val keys = (1 to 12).map("k" + _)
    val kGen = Gen.oneOf(keys)
    val bGen = Gen.listOfN(6, Gen.zip(kGen, Gen.chooseNum(0, 99)))
    for (seed <- 30L to 33L) {
      val states = Seq("", "  buckets: 8\n", "  use-index: brin\n").map { layout =>
        val root = java.nio.file.Files.createTempDirectory("graft-eq-").toString
        val env = Env(spark, graft.schema.Registry.fromYaml(yaml(layout)), root)
        env.createTables()
        val v = env.view("acc", Seq("k", "v"))
        for (step <- 0 to 2) {
          val batch = sample(bGen, seed * 10 + step)
          v.write(batch.map(r => Seq(r._1, r._2)))
        }
        // delete one known key through every path too
        v.delete(data = Seq(Seq("k1", 0)))
        val kvId = env.view("acc", Seq("k", "v", "id"))
        val full = rows(kvId.read()).sortBy(_.mkString("|"))
        // one pruned point read per key
        val points = keys.map(k => rows(kvId.read(Seq(s"""(= k "$k")"""))))
        assert(points == keys.map(k => full.filter(_.head == k)), s"seed=$seed $layout")
        (full, points)
      }
      assert(states(1) == states(0), s"seed=$seed plain=${states(0)._1} bucketed=${states(1)._1}")
      assert(states(2) == states(0), s"seed=$seed plain=${states(0)._1} brin=${states(2)._1}")
    }
  }

  test("jaccardPairs equals brute force on random corpora") {
    import org.apache.spark.sql.functions.col
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    for (seed <- 30L to 33L) {
      val texts = (0 until 12).map(i => (i.toLong, sample(docGen, seed * 100 + i)))
      val s = spark
      import s.implicits._
      val df = texts.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.7)) {
        val got = rows(graft.ops.Dedup.jaccardPairs(df, "doc_id", "text",
          threshold = t)).map(r => (r.head, r(1))).toSet
        val sets = texts.map { case (k, v) =>
          k -> v.split(" ").sliding(3).map(_.mkString(" ")).toSet }.toMap
        val want = (for {
          a <- sets.keys; b <- sets.keys if a.asInstanceOf[Long] < b.asInstanceOf[Long]
          j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
          if j >= t
        } yield (a, b)).toSet
        assert(got == want, s"seed=$seed t=$t got=$got want=$want")
      }
    }
  }

  test("mixture never exceeds a budget and is maximal in md5 order") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    for (seed <- 40L to 42L) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 40).map(i =>
        (i.toLong, s"src${rnd.nextInt(3)}", 5L + rnd.nextInt(20)))
      val df = docs.toDF("doc_id", "source", "ntok")
      val budgets = Map("src0" -> 120L, "src1" -> 60L, "src2" -> 1L)
      val kept = rows(graft.ops.Sample.mixture(df, "doc_id", "ntok",
        "source", budgets)).map(r => (r.head.asInstanceOf[Long],
          r(1).asInstanceOf[String], r(2).asInstanceOf[Long]))
      // budget respected per source
      kept.groupBy(_._2).foreach { case (src, rs) =>
        assert(rs.map(_._3).sum <= budgets(src), s"seed=$seed $src") }
      // prefix policy: in md5 order the running total counts every
      // doc, and a doc is kept iff its own running total fits
      def key(id: Long) = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val keptIds = kept.map(_._1).toSet
      docs.groupBy(_._2).foreach { case (src, ds) =>
        var cum = 0L
        ds.sortBy(d => key(d._1)).foreach { d =>
          cum += d._3
          assert(keptIds(d._1) == (cum <= budgets(src)),
            s"seed=$seed $src doc ${d._1} cum=$cum")
        }
      }
    }
  }

  test("parser roundtrip: parse(print(ast)) == ast") {
    import graft.expr.{Ast, Parser}
    def print_(a: Ast): String = a match {
      case Ast.Word(t) => t
      case Ast.Str(s) => "\"" + s + "\""
      case Ast.Num(v) => v.toString
      case Ast.Param(k, tail, conv, fmt) =>
        "{" + (k +: tail).mkString(".") +
          conv.map("!" + _).getOrElse("") + fmt.map(":" + _).getOrElse("") + "}"
      case Ast.Node(items) => items.map(print_).mkString("(", " ", ")")
    }
    val leafGen: Gen[Ast] = Gen.oneOf(
      Gen.oneOf("name", "country.name", "x_y").map(Ast.Word.apply),
      Gen.listOfN(5, Gen.alphaNumChar).map(cs => Ast.Str(cs.mkString)),
      Gen.chooseNum(-999L, 999L).map(n => Ast.Num(n)),
      Gen.const(Ast.param("x!r")))
    def nodeGen(depth: Int): Gen[Ast] =
      if (depth == 0) leafGen
      else Gen.oneOf(leafGen, Gen.chooseNum(1, 3).flatMap(n =>
        Gen.listOfN(n, nodeGen(depth - 1)).map(xs =>
          Ast.Node(Ast.Word("and") +: xs))))
    for (seed <- 1L to 50L) {
      val ast = sample(nodeGen(3), seed) match {
        case n: Ast.Node => n
        case leaf => Ast.Node(Seq(Ast.Word("and"), leaf))
      }
      assert(Parser.parse(print_(ast)) == ast, s"seed=$seed: ${print_(ast)}")
    }
  }
}
