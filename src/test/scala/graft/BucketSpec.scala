package graft

import java.nio.file.Files
import graft.schema.Registry

/** Key-hash-bucketed storage: merges rewrite only affected buckets
  * (the 100-TB write path). */
class BucketSpec extends SparkSpec {

  val yaml: String =
    """- table: fact
      |  columns:
      |    code: varchar
      |    val: float
      |  key: [code]
      |  buckets: 8
      |""".stripMargin

  def bEnv(): (Env, String) = {
    val root = Files.createTempDirectory("graft-bk-").toString
    val env = Env(spark, Registry.fromYaml(yaml), root)
    env.createTables()
    (env, root)
  }

  private def manifest(env: Env): env.warehouse.Manifest =
    env.warehouse.currentManifest("fact").get

  test("bucketed write/read round trip with continuing ids") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 50).map(i => Seq(s"c$i", i.toDouble)))
    assert(rows(v.read()).size == 50)
    assert(env.warehouse.maxId("fact") == 50)
    // second batch: new ids continue past the high-water mark
    v.write(Seq(Seq("x1", 1.0), Seq("x2", 2.0)))
    val ids = rows(env.view("fact", Seq("id")).read()).map(_.head.asInstanceOf[Long])
    assert(ids.distinct.size == 52 && ids.max == 52)
  }

  test("partial update rewrites only affected buckets") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 50).map(i => Seq(s"c$i", i.toDouble)))
    val m1 = manifest(env)
    assert(m1.buckets.nonEmpty)
    // single-key update: only that key's bucket may move snapshots
    v.write(Seq(Seq("c7", 700.0)))
    val m2 = manifest(env)
    val moved = m2.buckets.filter { case (b, dir) => m1.buckets.get(b) != Some(dir) }
    assert(moved.size == 1, s"moved=$moved")
    // untouched buckets still point at the previous snapshot dirs
    assert((m2.buckets -- moved.keys) == (m1.buckets -- moved.keys))
    // content is correct
    assert(rows(env.view("fact", Seq("val"))
      .read(Seq("""(= code "c7")"""))).head.head == 700.0)
    assert(rows(v.read()).size == 50)
  }

  test("bucket-pruned delete by data") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 20).map(i => Seq(s"c$i", i.toDouble)))
    val n = env.view("fact", Seq("code")).delete(data = Seq(Seq("c3"), Seq("c9")))
    assert(n == 2)
    assert(rows(v.read()).size == 18)
  }

  test("purge falls back to full rewrite and stays correct") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 10).map(i => Seq(s"c$i", i.toDouble)))
    val cnt = v.write(Seq(Seq("c1", 1.0), Seq("new1", 99.0)), purge = true)
    assert(cnt.deleted == 9)
    assert(rows(v.read()).map(_.head).toSet == Set("c1", "new1"))
  }

  test("delete all resets the manifest") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 10).map(i => Seq(s"c$i", i.toDouble)))
    assert(v.delete() == 10)
    assert(rows(v.read()).isEmpty)
    v.write(Seq(Seq("again", 1.0)))
    assert(rows(v.read()).size == 1)
  }

  test("read-side bucket pruning: point and IN-list reads open few buckets") {
    val (env, _) = bEnv()
    val v = env.view("fact", Seq("code", "val"))
    v.write((1 to 200).map(i => Seq(s"c$i", i.toDouble)))
    val all = v.read().inputFiles.length
    assert(all >= 8, s"expected one file per bucket, got $all")
    // equality on the full key: exactly one bucket dir opens
    val pt = v.read(Seq("(= code {c})"), kwargs = Map("c" -> "c7"))
    assert(rows(pt) == Seq(Seq("c7", 7.0)))
    assert(pt.inputFiles.length < all / 2,
      s"point read should prune buckets: ${pt.inputFiles.length} vs $all")
    // IN-list: at most one bucket per value
    val in3 = v.read(Seq("""(in code "c1" "c2" "c3")"""))
    assert(rows(in3).map(_.head).toSet == Set("c1", "c2", "c3"))
    assert(in3.inputFiles.length <= 3 * (all / 8))
    // equality-map filter prunes the same way
    val eqm = env.view("fact", Seq("code", "val"))
      .read(Seq(graft.view.FilterEq(Map("code" -> "c9"))))
    assert(rows(eqm) == Seq(Seq("c9", 9.0)))
    assert(eqm.inputFiles.length < all / 2)
    // range filters cannot hash: no pruning, still exact
    val rng = v.read(Seq("""(>= code "c99")"""))
    assert(rng.inputFiles.length == all)
    // provably-empty intersection: zero files
    val none = v.read(Seq("""(and (= code "c1") (= code "c2"))"""))
    assert(rows(none).isEmpty && none.inputFiles.isEmpty)
    // the compiled filter still applies IN FULL inside the bucket:
    // same-bucket neighbors of c7 must not leak into the point read
    assert(rows(pt).size == 1)
  }

  test("bucket ids hash on the driver exactly like the writer, for every key type") {
    import java.time.{Instant, LocalDate, LocalDateTime}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val cases: Seq[(String, Seq[Any])] = Seq(
      "varchar" -> Seq("c7", "", "ü€", "x" * 40),
      "bigint" -> Seq(0L, 7L, -3L, Long.MaxValue),
      "integer" -> Seq(0, 7, -3, Int.MinValue),
      "float" -> Seq(0.0, 1.5, -2.25, 1e300),
      "bool" -> Seq(true, false),
      "date" -> Seq(LocalDate.of(1970, 1, 1), LocalDate.of(2024, 2, 29)),
      "timestamp" -> Seq(LocalDateTime.of(2024, 2, 29, 12, 30, 1, 5000)),
      "timestamptz" -> Seq(Instant.parse("2024-02-29T12:30:01.000005Z")))
    for ((decl, values) <- cases) {
      val yaml = s"- table: k\n  columns:\n    key: $decl\n    n: bigint\n" +
        s"    other: integer\n  key: [key, other]\n  buckets: 16\n"
      val env = Env(spark, Registry.fromYaml(yaml),
        Files.createTempDirectory("graft-bkt-").toString)
      env.createTables()
      val td = env.registry("k")
      // the ids the old one-job-per-read path computed
      val schema = StructType(td.key.map(k => StructField(k, td.columnMap(k).ctype.spark.get)))
      val combos = values.flatMap(v => Seq(Seq(v, 1), Seq(v, -9)))
      val viaJob = combos.map(c => spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row.fromSeq(c)), 1), schema)
        .select(env.warehouse.bucketExpr(td).cast("int")).head().getInt(0)).toSet
      val (viaDriver, jobs) = jobsDuring(
        env.warehouse.bucketIds("k", Seq(values, Seq(1, -9))))
      assert(viaDriver == viaJob, decl)
      assert(jobs == 0, s"$decl: bucketIds ran $jobs jobs")
      // and a point read finds each row in the bucket the writer chose
      val v = env.view("k", Seq("key", "other", "n"))
      v.write(values.zipWithIndex.map { case (x, i) => Seq(x, 1, i.toLong) })
      values.zipWithIndex.foreach { case (x, i) =>
        val (df, buildJobs) = jobsDuring(
          v.read(Seq(graft.view.FilterEq(Map("key" -> x, "other" -> 1)))))
        assert(buildJobs == 0, s"$decl: building a pruned point read ran $buildJobs jobs")
        assert(rows(df).map(_(2)) == Seq(i.toLong), s"$decl $x")
        assert(df.inputFiles.map(_.replaceAll(".*/__b=(\\d+)/.*", "$1")).toSet.size == 1,
          s"$decl $x: a point read opens one bucket")
      }
    }
  }

  test("schema yaml round-trips buckets") {
    val (env, root) = bEnv()
    val env2 = Env.introspect(spark, root)
    assert(env2.registry("fact").buckets == 8)
  }

  test("compression and bloom table properties reach the parquet files") {
    import scala.jdk.CollectionConverters._
    val propYaml =
      """- table: zfact
        |  columns:
        |    code: varchar
        |    val: float
        |  key: [code]
        |  buckets: 4
        |  compression: zstd
        |  bloom: true
        |""".stripMargin
    val root = Files.createTempDirectory("graft-zstd-").toString
    val env = Env(spark, Registry.fromYaml(propYaml), root)
    env.createTables()
    val v = env.view("zfact", Seq("code", "val"))
    v.write((1 to 200).map(i => Seq(s"c$i", i.toDouble)))
    assert(rows(v.read()).size == 200)
    // a merge through the bucketed path keeps the properties too
    v.write(Seq(Seq("c1", 999.0)))
    // inspect a written file footer: zstd codec + bloom on the KEY
    // column only (id gets none — bloom bytes cost space per column)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(root, "zfact")
    val hfs = dir.getFileSystem(conf)
    val it = hfs.listFiles(dir, true)
    var file: org.apache.hadoop.fs.Path = null
    while (it.hasNext && file == null) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) file = f
    }
    assert(file != null)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val block = rd.getFooter.getBlocks.get(0)
      val cols = block.getColumns.asScala
      val codeMeta = cols.find(_.getPath.toDotString == "code").get
      assert(codeMeta.getCodec.toString == "ZSTD", codeMeta.getCodec.toString)
      assert(rd.getBloomFilterDataReader(block).readBloomFilter(codeMeta) != null,
        "no bloom filter on the key column")
      val idMeta = cols.find(_.getPath.toDotString == "id").get
      assert(rd.getBloomFilterDataReader(block).readBloomFilter(idMeta) == null,
        "bloom filter leaked onto a non-key column")
    } finally rd.close()
    // an unknown codec refuses loudly at DDL time
    val e = intercept[IllegalArgumentException](Registry.fromYaml(
      "- table: x\n  columns:\n    a: varchar\n  key: [a]\n  compression: rar\n"))
    assert(e.getMessage.contains("compression"), e.getMessage)
    // introspection round-trips the properties
    val y = Registry.toYaml(env.registry)
    assert(y.contains("compression: zstd") && y.contains("bloom: true"), y)
  }
}
