package graft

import org.apache.spark.sql.functions._
import graft.ops.{Cluster, Dedup, Profile, Sample, Scope, Text}

/** Round-7 pipeline operators: connected-component clustering,
  * deterministic sampling / sharding, PII scrubbing, TF-IDF, and
  * warehouse compaction. */
class PipelineOpsSpec extends SparkSpec {

  private lazy val s = spark
  import scala.jdk.CollectionConverters._

  private def pairsDf(rows: Seq[(Long, Long)]) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idA",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("idB",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  private def docsDf(rows: Seq[(Long, String)]) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  // ------------------------------------------------ connected components

  test("components: chain collapses transitively to its minimum") {
    // 1-2-3-4 is one component even though (1,4) was never a pair
    val comp = rows(Cluster.components(pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))))
    assert(comp.map(r => r.head -> r(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("components: separate clusters stay separate; unpaired ids absent") {
    val comp = rows(Cluster.components(
      pairsDf(Seq((10L, 11L), (20L, 21L), (21L, 22L)))))
    assert(comp.map(r => r.head -> r(1)).toMap ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("components: long chain converges via pointer jumping") {
    // path graph over 40 vertices — diameter 39; min-propagation alone
    // would need ~39 rounds, pointer jumping must get there in <= 25
    val edges = (0L until 39L).map(i => (i, i + 1))
    val comp = rows(Cluster.components(pairsDf(edges)))
    assert(comp.size == 40 && comp.forall(_(1) == 0L))
  }

  test("dedupByComponents keeps one representative per cluster + unpaired rows") {
    val df = docsDf(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")))
    val out = Cluster.dedupByComponents(df,
      pairsDf(Seq((1L, 2L), (2L, 3L))), "doc_id")
    assert(rows(out).map(_.head).toSet == Set(1L, 4L, 9L))
  }

  // ---------------------------------------------------------- sampling

  test("byHash is deterministic and bands partition the corpus") {
    val df = s.range(0, 2000).toDF("doc_id")
    val a = rows(Sample.byHash(df, "doc_id", 0.3)).map(_.head).toSet
    val b = rows(Sample.byHash(df, "doc_id", 0.3)).map(_.head).toSet
    assert(a == b) // no RNG state
    assert(a.size > 400 && a.size < 800, s"0.3 sample of 2000 -> ${a.size}")
    val lo = rows(Sample.split(df, "doc_id", 0.0, 0.3)).map(_.head).toSet
    val hi = rows(Sample.split(df, "doc_id", 0.3, 1.0)).map(_.head).toSet
    assert(lo == a) // byHash(f) IS the [0, f) band
    assert((lo & hi).isEmpty && lo.size + hi.size == 2000) // disjoint cover
  }

  test("shuffleShards: deterministic permutation, covered shards, no Spark shuffle") {
    val df = s.range(0, 2000).toDF("doc_id")
    val out = Sample.shuffleShards(df, "doc_id", 16)
    val a = rows(out).map(r => (r.head, r(1), r(2)))
    assert(a.toSet == rows(out).map(r => (r.head, r(1), r(2))).toSet) // stable
    val byShard = a.groupBy(_._2.asInstanceOf[Int])
    assert(byShard.keySet == (0 until 16).toSet, s"shards ${byShard.keySet}")
    // roughly uniform occupancy (2000/16 = 125 expected)
    assert(byShard.values.forall(v => v.size > 60 && v.size < 250),
      byShard.view.mapValues(_.size).toMap.toString)
    // within-shard positions are distinct -> (shard, pos-order) is a
    // total order, i.e. a permutation of the corpus
    byShard.values.foreach(v =>
      assert(v.map(_._3).distinct.size == v.size, "pos collision"))
    // stateless: the plan is a narrow projection, no exchange
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("writeShards: one file per shard dir, position-ordered rows") {
    val df = s.range(0, 2000).toDF("doc_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    try {
      Sample.writeShards(df, "doc_id", 8, dir)
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      assert(shardDirs.length == 8, s"${shardDirs.length} shard dirs")
      // exactly ONE data file per shard (no small-file spray)
      shardDirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"${d.getName} has ${files.length} files")
      }
      // a shard file reads back in position order and the full corpus
      // round-trips
      val back = s.read.parquet(dir)
      assert(back.count() == 2000)
      val one = back.filter(col("shard") === 3).select("pos")
        .collect().map(_.getLong(0))
      assert(one.sameElements(one.sorted), "shard rows not position-ordered")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir)): Unit
  }

  test("splitByGroup: disjoint cover, group atomicity") {
    val df = s.createDataFrame(
      (1 to 300).map(i => (i.toLong, s"site${i % 17}"))).toDF("doc_id", "src")
    val lo = rows(Sample.splitByGroup(df, "src", 0.0, 0.5))
    val hi = rows(Sample.splitByGroup(df, "src", 0.5, 1.0))
    assert(lo.size + hi.size == 300, s"${lo.size}+${hi.size}")
    assert(lo.map(_.head).toSet.intersect(hi.map(_.head).toSet).isEmpty)
    // every group lands entirely on one side (no cross-split leakage)
    val loSrc = lo.map(_(1)).toSet
    val hiSrc = hi.map(_(1)).toSet
    assert(loSrc.intersect(hiSrc).isEmpty, s"split groups: ${loSrc & hiSrc}")
    assert(loSrc.nonEmpty && hiSrc.nonEmpty) // 17 groups do straddle 0.5
  }

  test("topFractionPerStratum: proportional per-stratum cut, deterministic ties") {
    val df = s.createDataFrame(Seq(
      // stratum a: 5 rows, scores 5..1 -> ceil(5*0.4)=2 keep ids 10,11
      (10L, "a", 5.0), (11L, "a", 4.0), (12L, "a", 3.0),
      (13L, "a", 2.0), (14L, "a", 1.0),
      // stratum b: 2 rows, equal scores -> ceil(2*0.4)=1, id tie-break
      (20L, "b", 7.0), (21L, "b", 7.0),
      // stratum c: 1 row -> ceil(0.4)=1 keeps it
      (30L, "c", 0.0)
    )).toDF("id", "src", "score")
    val got = rows(Sample.topFractionPerStratum(df, Seq("src"), "score",
      "id", 0.4).select("id").orderBy("id")).map(_.head)
    assert(got == Seq(10L, 11L, 20L, 30L), got)
    // fraction 0 keeps nothing, 1 keeps everything
    assert(rows(Sample.topFractionPerStratum(df, Seq("src"), "score",
      "id", 0.0)).isEmpty)
    assert(rows(Sample.topFractionPerStratum(df, Seq("src"), "score",
      "id", 1.0)).size == 8)
    intercept[IllegalArgumentException](
      Sample.topFractionPerStratum(df, Seq("src"), "score", "id", 1.5))
  }

  test("scoreBuckets: nested per-stratum cuts, rate-filtered keep") {
    val df = s.createDataFrame(Seq(
      // stratum a: 5 rows, scores 5..1; cuts (0.2, 0.6) ->
      // ceil(1)=1 head (id 10), ceil(3)=3 cum -> mid ids 11,12, tail 13,14
      (10L, "a", 5.0), (11L, "a", 4.0), (12L, "a", 3.0),
      (13L, "a", 2.0), (14L, "a", 1.0),
      // stratum b: 2 equal scores -> both cuts land on ceil(0.4)=1 /
      // ceil(1.2)=2: head id 20 (tie-break), mid 21, no tail
      (20L, "b", 7.0), (21L, "b", 7.0),
      // stratum c: 1 row -> both cuts rank 1 -> bucket 0
      (30L, "c", 0.0)
    )).toDF("id", "src", "score")
    val got = rows(Sample.scoreBuckets(df, Seq("src"), "score", "id",
      Seq(0.2, 0.6)).select("id", "bucket").orderBy("id"))
      .map(r => r.head -> r(1)).toMap
    assert(got == Map(10L -> 0, 11L -> 1, 12L -> 1, 13L -> 2, 14L -> 2,
      20L -> 0, 21L -> 1, 30L -> 0), got.toString)
    // byScoreBuckets: rate 1 keeps a bucket fully, rate 0 drops it
    val kept = rows(Sample.byScoreBuckets(df, Seq("src"), "score", "id",
      Seq(0.2, 0.6), Seq(1.0, 0.0, 1.0)).select("id").orderBy("id"))
      .map(_.head)
    assert(kept == Seq(10L, 13L, 14L, 20L, 30L), kept)
    intercept[IllegalArgumentException](Sample.scoreBuckets(
      df, Seq("src"), "score", "id", Seq(0.6, 0.2)))
    intercept[IllegalArgumentException](Sample.byScoreBuckets(
      df, Seq("src"), "score", "id", Seq(0.5), Seq(1.0)))
  }

  test("splitByComponents: near-dup clusters never straddle the split") {
    // pairs chain 1~2~3 (one cluster) and 10~11; 20/21 unpaired
    val df = s.createDataFrame(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).map(Tuple1(_))).toDF("id")
    val pairs = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
      .toDF("idA", "idB")
    val lo = rows(Sample.splitByComponents(df, pairs, "id", 0.0, 0.5))
      .map(_.head.asInstanceOf[Long]).toSet
    val hi = rows(Sample.splitByComponents(df, pairs, "id", 0.5, 1.0))
      .map(_.head.asInstanceOf[Long]).toSet
    // disjoint bands partition the corpus...
    assert((lo & hi).isEmpty && (lo | hi) == Set(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    // ...and each cluster lands whole on one side
    assert(Set(1L, 2L, 3L).subsetOf(lo) || Set(1L, 2L, 3L).subsetOf(hi))
    assert(Set(10L, 11L).subsetOf(lo) || Set(10L, 11L).subsetOf(hi))
    // the schema is untouched (helper columns dropped)
    assert(Sample.splitByComponents(df, pairs, "id", 0.0, 1.0)
      .columns.toSeq == Seq("id"))
  }

  test("capPerStratum keeps the first n per stratum in order") {
    val df = s.createDataFrame(
      (1 to 20).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd")))
      .toDF("id", "src")
    val out = rows(Sample.capPerStratum(df, Seq("src"), Seq("id"), 3))
    assert(out.map(_.head).toSet == Set(1L, 3L, 5L, 2L, 4L, 6L))
  }

  test("packByBudget: contiguous shards match the prefix-sum definition") {
    // weights 10,20,...,100 over ids 1..10; budget 60
    val df = s.createDataFrame((1 to 10).map(i => (i.toLong, i * 10L)))
      .toDF("doc_id", "w")
    val out = rows(Sample.packByBudget(df, "doc_id", "w", 60L)
      .select(col("doc_id"), col("shard"))).map(r => r.head -> r(1)).toMap
    // cumulative-before: 0,10,30,60,100,150,210,280,360,450
    val expect = Seq(0L, 10L, 30L, 60L, 100L, 150L, 210L, 280L, 360L, 450L)
      .map(_ / 60L).zipWithIndex.map { case (sh, i) => (i + 1).toLong -> sh }.toMap
    assert(out == expect, s"got $out")
  }

  test("curriculumShards: round-robin rank, balance, order, dup refusal") {
    // scores descending by id so rank order REVERSES id order
    val df = s.createDataFrame((1 to 100).map(i => (i.toLong, 1000L - i)))
      .toDF("doc_id", "score")
    val out = rows(Sample.curriculumShards(df, "score", "doc_id", 8)
      .select("doc_id", "shard", "position"))
      .map(r => (r.head.asInstanceOf[Long],
        r(1).asInstanceOf[Int], r(2).asInstanceOf[Long]))
    assert(out.size == 100)
    // rank of doc i = 100 - i (ascending score); shard/pos follow
    out.foreach { case (id, sh, pos) =>
      val rank = 100 - id
      assert(sh == rank % 8 && pos == rank / 8, s"($id, $sh, $pos)")
    }
    // shard sizes differ by at most one; positions contiguous from 0
    val byShard = out.groupBy(_._2)
    assert(byShard.values.map(_.size).toSet.subsetOf(Set(12, 13)))
    byShard.values.foreach { g =>
      assert(g.map(_._3).sorted == (0L until g.size).toSeq) }
    // within a shard, position order is score order (easy -> hard)
    byShard.values.foreach { g =>
      val scores = g.sortBy(_._3).map(t => 1000L - t._1)
      assert(scores == scores.sorted, scores.toString) }
    // partitioning independence
    val many = rows(Sample.curriculumShards(df.repartition(13), "score",
      "doc_id", 8).select("doc_id", "shard")).map(r => r.head -> r(1)).toMap
    assert(many == out.map(t => (t._1: Any) -> (t._2: Any)).toMap)
    // duplicate ids refuse loudly
    intercept[IllegalArgumentException] {
      Sample.curriculumShards(df.union(df.limit(1)), "score", "doc_id", 8)
        .count()
    }
    // duplicate ids with DIFFERENT scores land in different range
    // partitions of the (score, id) layout — the per-partition
    // distinct check missed them (r12 advice); the global check must
    // refuse instead of silently fanning out conflicting assignments
    intercept[IllegalArgumentException] {
      Sample.curriculumShards(
        df.union(df.limit(1).select(col("doc_id"),
          (col("score") + 5000L).as("score"))),
        "score", "doc_id", 8).count()
    }
  }

  test("packByBudget shard ids are independent of input partitioning") {
    val df = s.createDataFrame((1 to 100).map(i => (i.toLong, 7L)))
      .toDF("doc_id", "w")
    val one = rows(Sample.packByBudget(df.repartition(1), "doc_id", "w", 50L)
      .select("doc_id", "shard")).map(r => r.head -> r(1)).toMap
    val many = rows(Sample.packByBudget(df.repartition(13), "doc_id", "w", 50L)
      .select("doc_id", "shard")).map(r => r.head -> r(1)).toMap
    assert(one == many)
  }

  test("upsample: whole+fractional copies, factor-0 drop, unique (id, copy)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))
    val df = s.createDataFrame((0 until 400).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"s${i % 4}")).asJava, schema)
    val up = Sample.upsample(df, "doc_id", "src",
      Map("s0" -> 3.0, "s1" -> 1.5, "s2" -> 0.0))
    val counts = rows(up.groupBy("src").agg(count(lit(1)).as("n")))
      .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
    assert(counts("s0") == 300L, counts)          // exactly 3 copies each
    assert(!counts.contains("s2"), counts)        // factor 0 drops
    assert(counts("s3") == 100L, counts)          // absent source: 1 copy
    // fractional: 1.5 → between 1x and 2x, hash-rule deterministic
    assert(counts("s1") > 100L && counts("s1") < 200L, counts)
    assert(rows(up).map(r => (r.head, r.last)).distinct.size ==
      counts.values.sum, "copy indices must make rows unique")
    // partitioning-independent: identical selection at any layout
    val again = Sample.upsample(df.repartition(13), "doc_id", "src",
      Map("s0" -> 3.0, "s1" -> 1.5, "s2" -> 0.0))
    assert(rows(again).map(r => (r.head, r.last)).toSet ==
      rows(up).map(r => (r.head, r.last)).toSet)
  }

  test("temperatureSample: flattens skew toward uniform, caps at full source") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))
    // heavy source: 900 docs; light source: 100
    val df = s.createDataFrame((0 until 1000).map(i =>
      org.apache.spark.sql.Row(i.toLong,
        if (i < 900) "big" else "small")).asJava, schema)
    def kept(alpha: Double, frac: Double) =
      rows(Sample.temperatureSample(df, "doc_id", "src", alpha, frac)
        .groupBy("src").agg(count(lit(1)).as("n")))
        .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
    // alpha=1: natural distribution — keep rate uniform across sources
    val nat = kept(1.0, 0.5)
    assert(math.abs(nat("big") - 450.0) < 60 &&
      math.abs(nat("small") - 50.0) < 25, nat)
    // alpha=0.25 flattens hard: the light source's share rises well
    // above its natural 10%
    val flat = kept(0.25, 0.5)
    val share = flat("small").toDouble / (flat("small") + flat("big"))
    assert(share > 0.2, s"flattened small-source share $share, $flat")
    // a rate that overflows a source caps at keeping ALL of it
    val tiny = kept(0.1, 0.9)
    assert(tiny("small") == 100L, tiny)
    // deterministic: same call, same rows
    val a = rows(Sample.temperatureSample(df, "doc_id", "src", 0.5, 0.3)
      .select("doc_id")).map(_.head)
    val b = rows(Sample.temperatureSample(df.repartition(7), "doc_id", "src",
      0.5, 0.3).select("doc_id")).map(_.head)
    assert(a.toSet == b.toSet && a.nonEmpty, a.size)
    intercept[IllegalArgumentException](
      Sample.temperatureSample(df, "doc_id", "src", 1.5, 0.5))
  }

  test("quantiles: R-7 interpolation golden, nulls ignored, degenerate shapes") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    def xdf(vals: Seq[java.lang.Long]) = s.createDataFrame(
      vals.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v) }.asJava, schema)
    // values 10,20,30,40 (+ a null, which both Spark percentile and
    // DuckDB quantile_cont ignore): R-7 index h=(n-1)q
    val df = xdf(Seq(10L, 20L, 30L, 40L, null))
    val got = rows(Profile.quantiles(df, "x", Seq(0.0, 0.25, 0.5, 1.0)))
      .map(r => r.head -> r(1)).toMap
    assert(got == Map(0.0 -> 10.0, 0.25 -> 17.5, 0.5 -> 25.0, 1.0 -> 40.0), got)
    // a single-value column answers every fraction with that value
    val one = rows(Profile.quantiles(xdf(Seq(7L)), "x", Seq(0.1, 0.9)))
      .map(r => r.head -> r(1)).toMap
    assert(one == Map(0.1 -> 7.0, 0.9 -> 7.0), one)
    // all-null column: zero rows, like unnest(NULL) on the oracle side
    assert(rows(Profile.quantiles(xdf(Seq(null, null)), "x", Seq(0.5))).isEmpty)
    intercept[IllegalArgumentException] {
      Profile.quantiles(df, "x", Seq(1.5))
    }

    // the sketch path (100-TB variant): same schema, values within
    // rank tolerance of exact — on 1000 distinct values at accuracy
    // 10000 the sketch is effectively exact at the checked fractions
    val big = s.range(1000).selectExpr("id", "id AS x")
    val exact = rows(Profile.quantiles(big.toDF(), "x", Seq(0.1, 0.5, 0.99)))
      .map(r => r.head -> r(1).asInstanceOf[Double]).toMap
    val approx = rows(Profile.quantilesApprox(big.toDF(), "x",
      Seq(0.1, 0.5, 0.99))).map(r => r.head -> r(1).asInstanceOf[Double]).toMap
    assert(approx.keySet == exact.keySet, approx)
    approx.foreach { case (q, v) =>
      assert(math.abs(v - exact(q)) <= 2.0, s"q=$q approx=$v exact=${exact(q)}")
    }
    assert(rows(Profile.quantilesApprox(xdf(Seq(null, null)), "x",
      Seq(0.5))).isEmpty)
  }

  test("a scope releases its ops' intermediates on return and on throw") {
    val df = s.createDataFrame((1L to 40L).map(i => (i, i % 7))).toDF("doc_id", "w")
    val dir = java.nio.file.Files.createTempDirectory("scoped-pack-")
    try {
      assertReleases("scoped pack")(Scope {
        Sample.packByBudget(df, "doc_id", "w", 20L)
          .write.mode("overwrite").parquet(dir.toString)
      })
      assert(s.read.parquet(dir.toString).count() == 40L)
      // the layout is checkpointed before the duplicate-id check throws
      val dup = df.unionByName(df.limit(1))
      assertReleases("failed pack")(intercept[IllegalArgumentException](
        Scope(Sample.packByBudget(dup, "doc_id", "w", 20L))))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("packByBudget and mixture reject duplicate ids loudly") {
    // duplicate ids would fan out the payload join and silently
    // mis-assign shards / inflate per-source totals — must raise
    val dup = s.createDataFrame(
      Seq((1L, 10L), (2L, 20L), (2L, 30L))).toDF("doc_id", "w")
    val e1 = intercept[IllegalArgumentException] {
      Sample.packByBudget(dup, "doc_id", "w", 60L).collect()
    }
    assert(e1.getMessage.contains("unique"), e1.getMessage)
    val dupSrc = s.createDataFrame(
      Seq((1L, 10L, "web"), (1L, 10L, "web"), (2L, 10L, "web")))
      .toDF("doc_id", "ntok", "source")
    val e2 = intercept[IllegalArgumentException] {
      Sample.mixture(dupSrc, "doc_id", "ntok", "source",
        Map("web" -> 100L)).collect()
    }
    assert(e2.getMessage.contains("unique"), e2.getMessage)
    // the same id under DIFFERENT sources is legitimate in mixture
    // (the payload join keys on (id, source))
    val crossSrc = s.createDataFrame(
      Seq((1L, 10L, "web"), (1L, 10L, "code"), (2L, 10L, "web")))
      .toDF("doc_id", "ntok", "source")
    val got = rows(Sample.mixture(crossSrc, "doc_id", "ntok", "source",
      Map("web" -> 100L, "code" -> 100L)))
    assert(got.size == 3, got.toString)
  }

  // --------------------------------------------------------------- PII

  test("piiCounts and redactPii hit emails, IPv4, phone-ish numbers") {
    val df = docsDf(Seq(
      (1L, "reach me at jane.doe+x@corp.example.com thanks"),
      (2L, "server at 192.168.1.77 port 80"),
      (3L, "call +1 555 867-5309 today"),
      (4L, "born in 1984, ordered 12 items"))) // no PII
    val out = rows(df.select(col("doc_id"),
      Text.piiCounts(col("text")).as("p"), Text.redactPii(col("text")).as("r")))
      .map(r => r.head -> (r(1), r(2))).toMap
    def counts(v: Any) = v.asInstanceOf[org.apache.spark.sql.Row].toSeq
    assert(counts(out(1L)._1) == Seq(1, 0, 0))
    assert(counts(out(2L)._1) == Seq(0, 1, 0))
    assert(counts(out(3L)._1) == Seq(0, 0, 1))
    assert(counts(out(4L)._1) == Seq(0, 0, 0))
    assert(out(1L)._2 == "reach me at [EMAIL] thanks")
    assert(out(2L)._2 == "server at [IP] port 80")
    assert(out(3L)._2 == "call [PHONE] today")
    assert(out(4L)._2 == "born in 1984, ordered 12 items")
  }

  // ------------------------------------------------------------- TF-IDF

  test("tfidf matches the hand formula on a tiny corpus") {
    val df = docsDf(Seq((1L, "a a b"), (2L, "a c")))
    val out = rows(Text.tfidf(df, "doc_id", "text"))
      .map(r => (r.head, r(1)) -> (r(2), r(3), r(4))).toMap
    def idf(dfreq: Long) = math.log(3.0 / (dfreq + 1.0)) + 1.0
    def exp(tf: Long, dfreq: Long) =
      BigDecimal(tf * idf(dfreq)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    assert(out((1L, "a")) == ((2L, 2L, exp(2, 2))))
    assert(out((1L, "b")) == ((1L, 1L, exp(1, 1))))
    assert(out((2L, "a")) == ((1L, 2L, exp(1, 2))))
    assert(out((2L, "c")) == ((1L, 1L, exp(1, 1))))
  }

  test("packSequences concatenates shard docs in id order") {
    val df = docsDf(Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"),
      (4L, "j")))
      .withColumn("ntok", size(split(col("text"), " ")).cast("bigint"))
    // budget 5: shard0 = docs 1,2 (3+2), shard1 = docs 3,4 (4+1)
    val out = rows(Sample.packSequences(df, "doc_id", "text", "ntok", 5L)
      .orderBy(col("seq_id")))
    assert(out.map(r => (r.head, r(1), r(2), r(3))) == Seq(
      (0L, "a b c d e", 2L, 5L), (1L, "f g h i j", 2L, 5L)), out)
  }

  test("packSequences splits docs larger than the budget into pieces") {
    // doc 2 is 13 tokens against budget 5 -> pieces 5,5,3 entering in
    // (id, piece) order; no sequence exceeds budget + one piece, and
    // the concatenation across sequences is lossless
    val longDoc = (1 to 13).map(i => s"t$i").mkString(" ")
    val df = docsDf(Seq((1L, "a b"), (2L, longDoc), (3L, "x y z")))
      .withColumn("ntok", size(split(trim(col("text")), "\\s+")).cast("bigint"))
    val out = rows(Sample.packSequences(df, "doc_id", "text", "ntok", 5L)
      .orderBy(col("seq_id"))).map(r => (r.head, r(1), r(2), r(3)))
    assert(out == Seq(
      (0L, "a b t1 t2 t3 t4 t5", 2L, 7L),
      (1L, "t6 t7 t8 t9 t10", 1L, 5L),
      (2L, "t11 t12 t13", 1L, 3L),
      (3L, "x y z", 1L, 3L)), out)
    out.foreach(r => assert(r._4.asInstanceOf[Long] <= 2 * 5L - 1,
      s"sequence over budget+piece: $r"))
    assert(out.map(_._2).mkString(" ") == s"a b $longDoc x y z")
  }

  test("mixture matches the window reference and ignores partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rows0 = (0L until 60L).map(i =>
      (i, s"src${i % 3}", 10L + (i % 7)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ntok",
        org.apache.spark.sql.types.LongType)))
    val df = s.createDataFrame(rows0.map(r =>
      org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    val budgets = Map("src0" -> 100L, "src1" -> 55L) // src2 absent -> dropped
    val got = rows(Sample.mixture(df, "doc_id", "ntok", "source", budgets))
      .map(_.head).toSet
    val ref = rows(df.withColumn("cum", sum(col("ntok")).over(
        Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")))))
      .filter(col("cum") <= when(col("source") === "src0", 100L)
        .when(col("source") === "src1", 55L).otherwise(0L)))
      .map(_.head).toSet
    assert(got == ref, s"got=$got ref=$ref")
    assert(got.nonEmpty && got.size < 60)
    // same result from a different physical layout
    val got7 = rows(Sample.mixture(df.repartition(7), "doc_id", "ntok",
      "source", budgets)).map(_.head).toSet
    assert(got7 == got)
  }

  test("decontaminate flags only docs sharing an n-gram with the benchmark") {
    val df = docsDf(Seq(
      (1L, "alpha beta gamma delta"),      // shares "alpha beta" with bench
      (2L, "delta epsilon zeta eta"),      // no shared 2-gram
      (3L, "x y alpha beta z gamma heta"))) // shares "alpha beta" only
    val bench = docsDf(Seq((99L, "alpha beta theta iota"))).select(col("text"))
    val out = rows(Text.decontaminate(df, "doc_id", "text", bench, "text", n = 2))
      .map(r => r.head -> r(1)).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L), out)
  }

  test("repetition fractions match hand counts") {
    val df = docsDf(Seq((1L, "a a a b"), (2L, "q w"), (3L, "")))
    val got = rows(Text.repetition(df, "doc_id", "text").orderBy("doc_id"))
    val r = got.head
    assert(r(1) == 0.75)               // 3 of 4 unigrams are "a"
    assert(r(2) == BigDecimal(2.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // "a a" twice of 3 bigrams
    assert(r(3) == 0.5)                // "a a a" once of 2 trigrams
    // fewer tokens than n: the whole text is the one n-gram (frac 1);
    // two distinct unigrams tie at 0.5
    assert(got(1).drop(1) == Seq(0.5, 1.0, 1.0), got(1))
    // empty text degenerates to the single empty token everywhere
    assert(got(2).drop(1) == Seq(1.0, 1.0, 1.0), got(2))
  }

  test("bm25 matches the hand formula on a tiny corpus") {
    val df = docsDf(Seq((1L, "a a b"), (2L, "a c")))
    val out = rows(Text.bm25(df, "doc_id", "text"))
      .map(r => (r.head, r(1)) -> r(4)).toMap
    // N=2, avgLen=2.5; idf(df)=ln(1+(2-df+0.5)/(df+0.5))
    def score(tf: Long, dfreq: Long, len: Long) = {
      val idf = math.log(1.0 + (2.0 - dfreq + 0.5) / (dfreq + 0.5))
      val raw = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / 2.5))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out((1L, "a")) == score(2, 2, 3))
    assert(out((1L, "b")) == score(1, 1, 3))
    assert(out((2L, "a")) == score(1, 2, 2))
    assert(out((2L, "c")) == score(1, 1, 2))
  }

  test("lmScore matches the hand formula on a tiny corpus") {
    // ref model: c(a)=3, c(b)=1, c(c)=1 -> T=5, V=3, denom T+V=8
    val ref = docsDf(Seq((1L, "a a b"), (2L, "a c"))).select(col("text"))
    val df = docsDf(Seq((10L, "a b z"), (11L, ""), (12L, "c")))
    val out = rows(Text.lmScore(df, "doc_id", "text", ref, "text")
      .orderBy("doc_id"))
    def lp(c: Long) = math.log((c + 1.0) / 8.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the blank doc has no tokens and is absent
    assert(out.map(_.head) == Seq(10L, 12L))
    assert(out(0).drop(1) == Seq(3L, r6((lp(3) + lp(1) + lp(0)) / 3)))
    assert(out(1).drop(1) == Seq(1L, r6(lp(1))))
  }

  test("classifier weights + score match the NB hand formula") {
    // pos: c(a)=3, c(b)=1 -> Tp=4; neg: c(b)=2, c(c)=1 -> Tn=3;
    // union vocab V=3 -> w(t) = ln((cp+1)/(4+3)) - ln((cn+1)/(3+3))
    val pos = docsDf(Seq((1L, "a a b"), (2L, "a"))).select(col("text"))
    val neg = docsDf(Seq((3L, "b b c"))).select(col("text"))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def w(cp: Long, cn: Long) =
      r6(math.log((cp + 1.0) / 7.0) - math.log((cn + 1.0) / 6.0))
    val ws = rows(Text.classifierWeights(pos, "text", neg, "text")
      .orderBy("token"))
    assert(ws == Seq(Seq("a", w(3, 0)), Seq("b", w(1, 2)), Seq("c", w(0, 1))))
    // scoring: mean token weight, summed in integer micro-units; OOV
    // token z scores 0; the blank doc has no tokens and is absent
    def wi(cp: Long, cn: Long) = math.round(w(cp, cn) * 1e6)
    val scored = rows(Text.classifierScore(
      docsDf(Seq((10L, "a b z"), (11L, ""), (12L, "c c"))),
      "doc_id", "text", Text.classifierWeights(pos, "text", neg, "text"))
      .orderBy("doc_id"))
    assert(scored.map(_.head) == Seq(10L, 12L))
    assert(scored(0).drop(1) ==
      Seq(3L, r6((wi(3, 0) + wi(1, 2) + 0L) / 3.0 / 1e6)))
    assert(scored(1).drop(1) == Seq(2L, r6(w(0, 1))))
  }

  test("duplicateSpans: cross-doc grams cover merged token spans") {
    // n=3: docs 1/2 share "a b c" and "b c d" (overlapping spans merge
    // to 4 covered tokens each); doc 3 repeats a gram only WITHIN
    // itself (not duplication); docs 4/5 are shorter than n and
    // identical, so their whole-text gram duplicates
    val df = docsDf(Seq(
      (1L, "a b c d x y z w"),
      (2L, "q a b c d r s t"),
      (3L, "k l m n k l m n"),
      (4L, "u v"),
      (5L, "u v")))
    val out = rows(Dedup.duplicateSpans(df, "doc_id", "text", n = 3)
      .orderBy("doc_id"))
    assert(out.map(_.head) == Seq(1L, 2L, 4L, 5L))
    assert(out(0).drop(1) == Seq(8L, 4L, 0.5))   // tokens 0-3 of 8
    assert(out(1).drop(1) == Seq(8L, 4L, 0.5))   // tokens 1-4 of 8
    assert(out(2).drop(1) == Seq(2L, 2L, 1.0))   // whole short doc
    assert(out(3).drop(1) == Seq(2L, 2L, 1.0))
  }

  test("trimDuplicateSpans: owner keeps its copy, others lose the span") {
    val df = docsDf(Seq(
      (1L, "A b c d x y z w"),       // owner of "a b c"/"b c d" grams
      (2L, "q a b C d r s t"),       // loses tokens 1-4, case survives
      (3L, "k l m n k l m n"),       // within-doc repeat only: verbatim
      (4L, "u  v"),                  // owner of whole-short-doc gram
      (5L, "u v")))                  // fully covered -> empty string
    val out = rows(Dedup.trimDuplicateSpans(df, "doc_id", "text", n = 3)
      .orderBy("doc_id")).map(r => r.head -> r(1)).toMap
    assert(out(1L) == "A b c d x y z w")    // untouched, verbatim
    assert(out(2L) == "q r s t")            // trimmed, original case kept
    assert(out(3L) == "k l m n k l m n")
    assert(out(4L) == "u  v")               // owner: verbatim double space
    assert(out(5L) == "")
  }

  // --------------------------------------------------------- compaction

  test("compact collapses a fragmented bucketed manifest to one snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-").toString
    try {
      val reg = graft.schema.Registry.fromYaml(
        """- table: t
          |  columns:
          |    k: varchar
          |    v: bigint
          |  key: [k]
          |  buckets: 8
          |""".stripMargin)
      val env = Env(spark, reg, root)
      env.createTables()
      val v = env.view("t", Seq("k", "v"))
      v.write((1 to 40).map(i => Seq(s"k$i", i.toLong)))
      v.write((41 to 80).map(i => Seq(s"k$i", i.toLong)))
      v.write((1 to 10).map(i => Seq(s"k$i", i + 1000L))) // update slice
      val before = env.warehouse.currentManifest("t").get
      assert(before.buckets.values.map(_.split("/")(0)).toSet.size > 1,
        s"expected a fragmented manifest, got $before")
      val dataBefore = rows(v.read()).sortBy(_.head.toString)
      env.warehouse.compact("t")
      val after = env.warehouse.currentManifest("t").get
      assert(after.buckets.values.map(_.split("/")(0)).toSet.size == 1,
        s"expected one snapshot after compact, got $after")
      assert(after.maxId == before.maxId) // high-water mark preserved
      assert(rows(v.read()).sortBy(_.head.toString) == dataBefore)
      // every referenced bucket dir holds exactly one data file
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      after.buckets.values.foreach { rel =>
        val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/t/$rel"))
          .filter(_.getPath.getName.endsWith(".parquet"))
        assert(files.length == 1, s"$rel has ${files.length} files")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root)): Unit
  }

  test("profile: counts, nulls, native-ordered min/max, exact distincts") {
    val df = s.createDataFrame(Seq(
      (9L, "en", Some(1.5)), (10L, "en", Some(2.5)), (100L, "fr", None),
      (2L, null.asInstanceOf[String], Some(1.5))))
      .toDF("n", "lang", "score")
    val p = rows(Profile.columns(df, Seq("n", "lang", "score")))
      .map(r => r.head -> r.tail).toMap
    // numeric min/max use native ordering (string min would say "10")
    assert(p("n") == Seq(4L, 0L, 4L, "2", "100"), p("n").toString)
    assert(p("lang") == Seq(4L, 1L, 2L, "en", "fr"), p("lang").toString)
    assert(p("score") == Seq(4L, 1L, 2L, "1.5", "2.5"), p("score").toString)
  }

  test("profile of a document-text column: exact distincts, payload-free melt") {
    val docs = Testbed.env(s, "/root/testdata/sf0.001")
      .view("documents", Seq("doc_id", "text")).read()
    val p = rows(Profile.columns(docs, Seq("text")))
      .map(r => r.head -> r.tail).toMap
    val exact = docs.filter(col("text").isNotNull)
      .select(col("text")).distinct().count()
    val nulls = docs.filter(col("text").isNull).count()
    assert(p("text").take(3) == Seq(nulls + exact, nulls, exact),
      s"${p("text")} vs exact=$exact nulls=$nulls")
    // the distinct melt must shuffle hashes, not documents: no shuffle
    // exchange in the profile plan may carry a string-typed __val
    val exec = Profile.columns(docs, Seq("text")).queryExecution.executedPlan
    val leaky = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.filter(a => a.name.startsWith("__val") &&
          a.dataType == org.apache.spark.sql.types.StringType)
    }.flatten
    assert(leaky.isEmpty, s"distinct pass shuffles payload strings: $leaky")
  }

  test("profile per group: group keys incl. NULL, exact per-group stats") {
    val df = s.createDataFrame(Seq(
      ("web", "en", 10L), ("web", "fr", 20L), ("web", null, 30L),
      ("wiki", "en", 5L),
      (null.asInstanceOf[String], "de", 7L)))
      .toDF("src", "lang", "n")
    val p = rows(Profile.columnsBy(df, Seq("lang", "n"), "src"))
      .map(r => (r.head, r(1)) -> r.drop(2)).toMap
    assert(p.size == 6, p.keys.toString) // 3 groups x 2 columns
    assert(p(("web", "lang")) == Seq(3L, 1L, 2L, "en", "fr"))
    assert(p(("web", "n")) == Seq(3L, 0L, 3L, "10", "30"))
    assert(p(("wiki", "lang")) == Seq(1L, 0L, 1L, "en", "en"))
    // a NULL group is a real group: its card exists with real distincts
    assert(p((null, "lang")) == Seq(1L, 0L, 1L, "de", "de"))
    assert(p((null, "n")) == Seq(1L, 0L, 1L, "7", "7"))
    // profiling the group column itself refuses
    intercept[IllegalArgumentException] {
      Profile.columnsBy(df, Seq("src", "lang"), "src")
    }
  }

  test("profile of an all-null column reports zero distincts, null range") {
    val df = s.createDataFrame(Seq(Tuple2(1L, null.asInstanceOf[String]),
      Tuple2(2L, null.asInstanceOf[String]))).toDF("id", "v")
    val p = rows(Profile.columns(df, Seq("v")))
    assert(p == Seq(Seq("v", 2L, 2L, 0L, null, null)), p.toString)
  }

  test("histogram clamps outliers into edge bins and skips empty bins") {
    val df = s.createDataFrame(
      Seq(-5.0, 0.0, 9.9, 10.0, 25.0, 99.0, 150.0).map(Tuple1(_))).toDF("x")
    val h = rows(Profile.histogram(df, "x", lo = 0.0, hi = 100.0, bins = 10))
      .map(r => r.head -> (r(1), r(2), r(3))).toMap
    assert(h(0) == (0.0, 10.0, 3L), h.toString)   // -5 clamped + 0 + 9.9
    assert(h(1) == (10.0, 20.0, 1L))              // 10.0 lands in [10,20)
    assert(h(2) == (20.0, 30.0, 1L))
    assert(h(9) == (90.0, 100.0, 2L), h.toString) // 99 + 150 clamped
    assert(h.size == 4)                           // empty bins absent
  }

  test("columnsApprox: one-pass sketch profile tracks the exact card") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val docs = env.view("documents",
      Seq("doc_id", "lang", "source", "n_chars", "text")).read()
    val cols = Seq("lang", "source", "n_chars", "text")
    val exact = rows(Profile.columns(docs, cols))
      .map(r => r.head -> r).toMap
    val approx = rows(graft.ops.Profile.columnsApprox(docs, cols, rsd = 0.02))
      .map(r => r.head -> r).toMap
    assert(approx.keySet == exact.keySet)
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      // identical schema; rows/nulls/min/max are exact in both paths
      assert(a(1) == e(1) && a(2) == e(2) && a(4) == e(4) && a(5) == e(5),
        s"$c: $a vs $e")
      // the sketch tracks the exact distinct within a generous 3x rsd
      val (ed, ad) = (e(3).asInstanceOf[Long].toDouble,
        a(3).asInstanceOf[Long].toDouble)
      assert(math.abs(ad - ed) <= math.max(1.0, 3 * 0.02 * ed),
        s"$c: approx $ad vs exact $ed")
    }
    // the one-pass claim: strictly fewer exchanges than the exact
    // path (which adds the melt + two-stage distinct shuffles)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    assert(exchanges(graft.ops.Profile.columnsApprox(docs, cols)) <
      exchanges(Profile.columns(docs, cols)))
  }

  test("profile compare: per-column before/after counts with deltas") {
    val before = s.createDataFrame(Seq(
      (1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L)))
      .toDF("id", "lang", "n")
    val after = s.createDataFrame(Seq(
      (1L, "en", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, "en", 30L), (4L, null.asInstanceOf[String], 99L)))
      .toDF("id", "lang", "n")
    val got = rows(Profile.compare(before, after, Seq("lang", "n"))
      .orderBy("column"))
    val lang = got.find(_.head == "lang").get
    // (column, rows_b, nulls_b, distinct_b, min_b, max_b,
    //  rows_a, nulls_a, distinct_a, min_a, max_a, deltas...)
    assert(lang == Seq("lang", 3L, 0L, 2L, "de", "en",
      4L, 2L, 1L, "en", "en", 1L, 2L, -1L), lang)
    val n = got.find(_.head == "n").get
    assert(n == Seq("n", 3L, 0L, 3L, "10", "30",
      4L, 0L, 4L, "10", "99", 1L, 0L, 1L), n)
  }

  test("psi: zero for identical distributions, positive under shift, finite on empty bins") {
    val before = s.createDataFrame(
      (Seq.fill(50)(10.0) ++ Seq.fill(50)(90.0)).map(Tuple1(_))).toDF("x")
    // identical distribution -> exactly 0 (p == q per bin)
    val same = rows(Profile.psi(before, before, "x", 0, 100, 10)).head
    assert(same == Seq(0.0, 100L, 100L), same)
    // mass moves from the 90s bin to the 10s bin -> clearly positive
    val after = s.createDataFrame(
      (Seq.fill(90)(10.0) ++ Seq.fill(10)(90.0)).map(Tuple1(_))).toDF("x")
    val shifted = rows(Profile.psi(before, after, "x", 0, 100, 10)).head
    assert(shifted(0).asInstanceOf[Double] > 0.25, shifted)
    assert(shifted(1) == 100L && shifted(2) == 100L, shifted)
    // a side concentrated in ONE bin leaves 9 empty bins on both
    // sides of the ratio — smoothing keeps every term finite
    val one = s.createDataFrame(Seq.fill(20)(Tuple1(55.0))).toDF("x")
    val sparse = rows(Profile.psi(before, one, "x", 0, 100, 10)).head
    assert(!sparse(0).asInstanceOf[Double].isNaN &&
      !sparse(0).asInstanceOf[Double].isInfinite, sparse)
    // outliers clamp into edge bins instead of dropping
    val out = s.createDataFrame(Seq(-5.0, 500.0).map(Tuple1(_))).toDF("x")
    val clamped = rows(Profile.psi(out, out, "x", 0, 100, 10)).head
    assert(clamped == Seq(0.0, 2L, 2L), clamped)
  }

  test("topValues: exact counts, deterministic value tie-break at the cutoff") {
    val df = s.createDataFrame(
      (Seq.fill(3)("b") ++ Seq.fill(3)("a") ++ Seq.fill(2)("c") ++
        Seq("d") ++ Seq(null.asInstanceOf[String])).map(Tuple1(_))).toDF("v")
    val t = rows(Profile.topValues(df, "v", 3))
    assert(t == Seq(Seq("a", 3L), Seq("b", 3L), Seq("c", 2L)), t.toString)
  }

  // -------------------------------------------------- fused pipeline

  test("curateEmbeddings: exact, near and semantic dups each fall to their stage") {
    import graft.ops.Pipeline
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val rows0 = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0.6f, 0.8f)),
      (9001L, Seq(1f, 0f, 0f, 0f)),            // exact copy of 1
      (9002L, Seq(1.001f, 0f, 0f, 0f)),        // cosine 1.0 with 1
      (9003L, Seq(0.97f, 0.2431f, 0f, 0f)))    // cosine 0.97 with 1
    val df = s.createDataFrame(rows0.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val scratch = java.nio.file.Files.createTempDirectory("ecur").toString
    try {
      val (out, reports) = Pipeline.run(df,
        Pipeline.curateEmbeddings(dims = 4, semanticK = 2), scratch)
      // 7 -> 6 (exact: 9001) -> 5 (near at 0.99: 9002)
      //   -> 4 (semantic at 0.95 within the k-means cluster: 9003,
      //         which the tighter near threshold deliberately spared)
      assert(reports.map(r => (r.stage, r.rowsOut)) == Seq(
        ("exact_dedup", 6L), ("near_dedup", 5L), ("semantic_dedup", 4L)),
        reports)
      assert(rows(out.select("vec_id").orderBy("vec_id")).map(_.head)
        == Seq(1L, 2L, 3L, 4L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(scratch))
  }

  test("curateDocuments: domain_filter stage gates on the blocklist before url_dedup") {
    import graft.ops.Pipeline
    val docs = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, "alpha beta", "https://spam.bad.com/a"),
      org.apache.spark.sql.Row(2L, "gamma delta", "https://ok.org/b"),
      org.apache.spark.sql.Row(3L, "epsilon zeta", "https://fine.net/c")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType))))
    val bl = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("bad.com")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("domain",
          org.apache.spark.sql.types.StringType))))
    val stages = Pipeline.curateDocuments(urlCol = Some("url"),
      blockDomains = Some(bl))
    assert(stages.map(_.name).take(2) == Seq("domain_filter", "url_dedup"),
      stages.map(_.name))
    val scratch = java.nio.file.Files.createTempDirectory("blk").toString
    try {
      val (out, reports) = Pipeline.run(docs, stages, scratch)
      assert(reports.head.stage == "domain_filter" &&
        reports.head.rowsOut == 2L, reports)
      assert(rows(out.select("doc_id").orderBy("doc_id")).map(_.head)
        == Seq(2L, 3L))
      // without a urlCol the blocklist is inert (no stage to bind to)
      assert(!Pipeline.curateDocuments(blockDomains = Some(bl))
        .map(_.name).contains("domain_filter"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(scratch))
  }

  test("curateDocuments incremental: bootstrap builds the index, batch 2 cross-dedups") {
    import graft.ops.Pipeline
    def mk(rows: Seq[(Long, String)]) = s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val base = "the quick brown fox jumps over the lazy dog and far away " * 5
    val dir = java.nio.file.Files.createTempDirectory("inc-curate-")
    val idx = dir.resolve("idx").toString
    // 0.5 verify threshold: the repeated base text collapses to ~13
    // distinct shingles, so a one-token edit sits at Jaccard ~0.6
    val stages = Pipeline.curateDocuments(corpusIndex = Some(idx),
      indexThreshold = 0.5)
    assert(stages.map(_.name) ==
      Seq("exact_dedup", "near_dedup", "cross_dedup", "index_update"),
      stages.map(_.name))
    try {
      // batch 1: two distinct docs — cross_dedup is a pass-through
      // (no index yet), index_update bootstraps the build
      val b1 = mk(Seq((1L, base),
        (2L, "completely different content about spark engines " * 5)))
      val (out1, rep1) = assertReleases("bootstrap run")(Pipeline.run(b1, stages,
        dir.resolve("s1").toString))
      assert(rep1.map(_.rowsOut) == Seq(2L, 2L, 2L, 2L), rep1)
      assert(out1.count() == 2L)
      val indexed1 = s.read.parquet(s"$idx/docs").count()
      assert(indexed1 == 2L)
      // flat bands, one file per row set for a small build or append
      def files(set: String) = new java.io.File(idx, set).listFiles().toSeq
      def parts(set: String) = files(set).count(_.getName.endsWith(".parquet"))
      assert(parts("docs") == 1 && parts("bands") == 1,
        (files("docs") ++ files("bands")).map(_.getName))
      // batch 2: a near-copy of doc 1 plus a fresh doc — cross_dedup
      // drops the near-copy against the index; only the fresh doc
      // appends
      val b2 = mk(Seq((10L, base.replace("lazy", "sleepy")),
        (11L, "entirely novel vocabulary about cooking pasta " * 5)))
      val (out2, rep2) = assertReleases("cross-dedup run")(Pipeline.run(b2, stages,
        dir.resolve("s2").toString))
      val byStage = rep2.map(r => r.stage -> r.rowsOut).toMap
      assert(byStage("near_dedup") == 2L && byStage("cross_dedup") == 1L,
        rep2)
      assert(rows(out2.select("doc_id")).map(_.head) == Seq(11L))
      assert(s.read.parquet(s"$idx/docs").count() == 3L)
      assert(parts("docs") == 2 && parts("bands") == 2)
      assert(!(files("docs") ++ files("bands")).exists(_.isDirectory),
        files("bands").map(_.getName))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("curateEmbeddings incremental: bootstrap builds the cluster index, batch 2 cross-dedups") {
    import graft.ops.Pipeline
    val vschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def mk(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, vschema)
    val dir = java.nio.file.Files.createTempDirectory("inc-vcurate-")
    val idx = dir.resolve("semidx").toString
    val stages = Pipeline.curateEmbeddings("vec_id", "embedding", dims = 4,
      semanticK = 2, corpusIndex = Some(idx))
    assert(stages.map(_.name) == Seq("exact_dedup", "near_dedup",
      "semantic_dedup", "cross_dedup", "index_update"), stages.map(_.name))
    try {
      // batch 1: two orthogonal axis clusters (5 distinct each)
      val b1 = mk((0 until 5).map(i =>
        (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
        (0 until 5).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f))))
      val (out1, rep1) = Pipeline.run(b1, stages, dir.resolve("s1").toString)
      // within-batch stages may or may not bite; cross_dedup must
      // pass everything through (no index yet)
      val by1 = rep1.map(r => r.stage -> r.rowsOut).toMap
      assert(by1("cross_dedup") == by1("semantic_dedup"), rep1)
      assert(new java.io.File(idx, "_graft_index_meta.json").exists())
      val n1 = out1.count()
      // batch 2: a scaled copy of vec 0 (cosine 1.0 with the indexed
      // original) plus a genuinely new direction
      val b2 = mk(Seq(
        (200L, Seq(1.001f, 0f, 0f, 0f)),
        (201L, Seq(0f, 0f, 1f, 0f))))
      val (out2, rep2) = Pipeline.run(b2, stages, dir.resolve("s2").toString)
      val by2 = rep2.map(r => r.stage -> r.rowsOut).toMap
      assert(by2("cross_dedup") == 1L, rep2)
      assert(rows(out2.select("vec_id")).map(_.head) == Seq(201L))
      // the new direction appended into the cluster partitions
      assert(s.read.parquet(idx).count() == n1 + 1L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("curateEmbeddings index_update heals an index a crashed retrain left aside") {
    import graft.ops.{Pipeline, Similarity}
    val vschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def mk(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, vschema)
    val dir = java.nio.file.Files.createTempDirectory("heal-vcurate-")
    val idx = dir.resolve("semidx")
    try {
      val corpus = mk((0 until 5).map(i =>
        (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
        (0 until 5).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f))))
      Similarity.buildSemanticIndex(corpus, "embedding", "vec_id",
        idx.toString, k = 2)
      // a retrain swap that crashed between its two renames: the whole
      // corpus index sits at idx__old, nothing at idx
      val aside = dir.resolve("semidx__old")
      java.nio.file.Files.move(idx, aside)
      val batch = mk(Seq((200L, Seq(0f, 0f, 1f, 0f)),
        (201L, Seq(0f, 0f, 0f, 1f))))
      val (out, _) = Pipeline.run(batch, Pipeline.curateEmbeddings("vec_id",
        "embedding", dims = 4, semanticK = 2, corpusIndex = Some(idx.toString)),
        dir.resolve("s1").toString)
      val kept = rows(out.select("vec_id")).map(_.head.asInstanceOf[Long])
      assert(kept.toSet == Set(200L, 201L), kept)
      // the recipe appended to the healed corpus instead of rebuilding
      // the index from this one batch
      assert(!java.nio.file.Files.exists(aside))
      val indexed = rows(s.read.parquet(idx.toString).select("vec_id"))
        .map(_.head.asInstanceOf[Long]).toSet
      assert(indexed == ((0L until 5L) ++ (100L until 105L) ++ kept).toSet,
        indexed)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("Pipeline.resume over kept spills equals the uninterrupted run") {
    import graft.ops.Pipeline
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val docs = env.view("documents", Seq("doc_id", "text")).read()
    // defaults + sample: stages = exact_dedup, near_dedup, sample
    val stages = Pipeline.curateDocuments(sampleFraction = 0.5)
    val scratch = java.nio.file.Files.createTempDirectory("resume").toString
    try {
      val (full, fullReports) = Pipeline.run(docs, stages, scratch,
        keepSpills = true)
      val fullIds = rows(full.select("doc_id").orderBy("doc_id"))
      // resume from the LAST stage: only it re-runs, fed by the kept
      // near_dedup spill — same survivors, same audit count
      val (res, resReports) = Pipeline.resume(spark, stages, scratch, from = 2)
      assert(resReports.map(_.stage) == Seq("sample"), resReports)
      assert(resReports.head.rowsOut == fullReports.last.rowsOut)
      assert(rows(res.select("doc_id").orderBy("doc_id")) == fullIds)
      // a scratch without the needed spill refuses loudly
      val empty = java.nio.file.Files.createTempDirectory("resume2").toString
      val e = intercept[IllegalArgumentException](
        Pipeline.resume(spark, stages, empty, from = 1))
      assert(e.getMessage.contains("keepSpills"), e.getMessage)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(empty))
      // from = 0 is run()'s job (the original input is never spilled)
      intercept[IllegalArgumentException](
        Pipeline.resume(spark, stages, scratch, from = 0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(scratch))
  }

  test("curate html stage: raw-crawl markup extracts before every miner") {
    import graft.ops.Pipeline
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    // wrap each doc's text in markup with per-doc script junk: without
    // extraction the junk defeats exact dedup of the planted twin
    val docs = env.view("documents", Seq("doc_id", "text")).read()
      .filter(col("doc_id") < 20)
      .withColumn("text", concat(
        lit("<html><head><script>var v="), col("doc_id"),
        lit(";</script></head><body><p>"),
        when(col("doc_id") === 1, lit("twin body text"))
          .when(col("doc_id") === 2, lit("twin body text"))
          .otherwise(col("text")),
        lit("</p></body></html>")))
    val stages = Pipeline.curateDocuments(html = true)
    assert(stages.map(_.name) ==
      Seq("html_extract", "exact_dedup", "near_dedup"), stages.map(_.name))
    val scratch = java.nio.file.Files.createTempDirectory("pipehtml").toString
    val (out, reports) = Pipeline.run(docs, stages, scratch)
    // extraction rewrites (no shrink), then exact dedup drops the twin
    assert(reports.head.stage == "html_extract" && reports.head.rowsOut == 20)
    val kept = rows(out.select("doc_id").orderBy("doc_id")).map(_.head)
    assert(kept.contains(1L) && !kept.contains(2L), kept)
    // survivors carry extracted text, not markup
    val t = rows(out.filter(col("doc_id") === 1).select("text")).head.head
    assert(t == "twin body text", t)
  }

  test("Pipeline.run: corpus in, curated JSONL shards out, bounded scratch") {
    import graft.ops.Pipeline
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val docs = env.view("documents", Seq("doc_id", "text")).read()
    // bench frame sharing 13-grams with some docs: real contamination
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("text").as("bench_text"))
    val scratch = java.nio.file.Files.createTempDirectory("pipe").toString
    val outDir = java.nio.file.Files.createTempDirectory("pipeout").toString + "/shards"
    try {
      val stages = Pipeline.curateDocuments(minQuality = 0.5,
        bench = Some(bench), benchTextCol = "bench_text",
        sampleFraction = 0.5)
      assert(stages.map(_.name) == Seq("exact_dedup", "near_dedup",
        "quality", "decontaminate", "sample"), stages.map(_.name))
      val (out, reports) = Pipeline.run(docs, stages, scratch)
      // the audit: one report per stage, monotone survivor counts,
      // real shrink end to end (dedup, decontamination and the 0.5
      // sample each bite on this corpus; the quality floor may not)
      assert(reports.map(_.stage) == stages.map(_.name))
      val counts = reports.map(_.rowsOut)
      assert(counts == counts.sorted.reverse, counts)
      assert(counts.last < counts.head / 2, counts)
      assert(reports.forall(_.seconds > 0))
      // equivalence: the same ops composed lazily produce the same set
      val expected = {
        val a = Dedup.byFingerprint(docs, "text", "doc_id")
        val b = Dedup.minhashDedup(a, "doc_id", "text", threshold = 0.2)
        val c = b.filter(Text.qualityScore(col("text")) >= 0.5)
        val d = c.join(Text.decontaminate(c, "doc_id", "text", bench,
          "bench_text").select("doc_id"), Seq("doc_id"), "left_anti")
        Sample.byHash(d, "doc_id", 0.5)
      }
      assert(rows(out.select("doc_id").orderBy("doc_id")) ==
        rows(expected.select("doc_id").orderBy("doc_id")))
      // bounded scratch: only the LAST stage's spill remains
      val spills = new java.io.File(scratch).listFiles()
        .filter(_.getName.startsWith("stage-")).map(_.getName).toSeq
      assert(spills == Seq("stage-04-sample"), spills)
      // shards out: the survivors export as sidecar-typed JSONL and
      // round-trip (corpus-in -> shards-out, the hand-off artifact)
      graft.sources.Corpus.exportJsonl(out, outDir, shards = 3)
      val back = graft.sources.Corpus.importJsonl(spark, outDir)
      assert(rows(back.select("doc_id").orderBy("doc_id")) ==
        rows(out.select("doc_id").orderBy("doc_id")))
      // keepSpills retains every stage for debugging/restart
      val scratch2 = java.nio.file.Files.createTempDirectory("pipe2").toString
      Pipeline.run(docs, stages.take(2), scratch2, keepSpills = true)
      val kept = new java.io.File(scratch2).listFiles()
        .filter(_.getName.startsWith("stage-")).map(_.getName).toSeq.sorted
      assert(kept == Seq("stage-00-exact_dedup", "stage-01-near_dedup"), kept)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch2))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(outDir).getParentFile)
    }
  }

  test("an incremental curate batch keeps its survivors in at most 32 jobs") {
    import graft.ops.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("inc-jobs-")
    val stages = Pipeline.curateDocuments(minQuality = 0.5, nearThreshold = 0.2,
      corpusIndex = Some(dir.resolve("idx").toString))
    def run(b: Seq[(Long, String)], i: Int) =
      Pipeline.run(CurateBatches.frame(s, b), stages, dir.resolve(s"s$i").toString)
    def dropped(b: Seq[(Long, String)], out: org.apache.spark.sql.DataFrame) =
      b.map(_._1).toSet -- rows(out.select("doc_id")).map(_.head.asInstanceOf[Long])
    try {
      val Seq(b0, b1) = CurateBatches(2, seed = 7)
      val (out0, _) = run(b0, 0)
      // the batch against the index the bootstrap batch built
      val ((out1, rep1), jobs) = jobExecutionsDuring(run(b1, 1))
      assert(jobs.size <= 32, s"${jobs.size} jobs")
      assert(out1.columns.toSeq == Seq("doc_id", "text"))
      assert(rep1.last.rowsOut == out1.count())
      // the survivors the recipe kept when it hashed each doc five times
      assert(dropped(b0, out0) == CurateGolden.dropped0, dropped(b0, out0).toSeq.sorted)
      assert(dropped(b1, out1) == CurateGolden.dropped1, dropped(b1, out1).toSeq.sorted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a steady-state curate batch and its survivor upsert compile at most 4 classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.ops.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("inc-compile-")
    val env = Env(s, graft.schema.Registry.fromYaml(
      """- table: curated
        |  columns: {doc_id: bigint, text: varchar}
        |  key: [doc_id]
        |""".stripMargin), dir.resolve("wh").toString)
    env.createTables()
    val stages = Pipeline.curateDocuments(minQuality = 0.5, nearThreshold = 0.2,
      corpusIndex = Some(dir.resolve("idx").toString))
    /** `body`'s result and the classes Janino compiled while it ran. */
    def compiled[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    var kept = 0L
    /** One batch through the pipeline, then its survivors upserted:
      * the classes each compiled. */
    def batch(b: Seq[(Long, String)], i: Int): (Long, Long) = Scope {
      val ((out, rep), curate) = compiled(Pipeline.run(CurateBatches.frame(s, b), stages,
        dir.resolve(s"s$i").toString))
      kept += rep.last.rowsOut
      (curate, compiled(env.view("curated", Seq("doc_id", "text")).write(out))._2)
    }
    try {
      val Seq(b0, b1, b2) = CurateBatches(3, seed = 7)
      // the bootstrap batch builds the index; the next is the first
      // deduped against it
      batch(b0, 0)
      batch(b1, 1)
      val (curate, upsert) = batch(b2, 2)
      assert(curate + upsert <= 4, s"the third batch compiled $curate classes, its upsert $upsert")
      assert(env.view("curated", Seq("doc_id")).read().count() == kept)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
