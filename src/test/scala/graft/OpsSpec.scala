package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Scope, Similarity, Text}

/** LLM-pipeline operator tests: planted-duplicate recall for the LSH
  * paths, exactness of the brute-force baselines, multimodal
  * plumbing, text metrics. */
class OpsSpec extends SparkSpec {

  private lazy val s = spark
  import scala.jdk.CollectionConverters._

  def docsDf(rows: Seq[(Long, String)]) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
  }

  test("exact dedup keeps smallest id per group") {
    val df = docsDf(Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")))
    check(Seq(Seq(1L, "aaa"), Seq(2L, "bbb")),
      Dedup.exact(df, Seq("text"), "doc_id"))
  }

  test("fingerprint dedup normalizes case and whitespace") {
    val df = docsDf(Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")))
    assert(rows(Dedup.byFingerprint(df, "text", "doc_id"))
      .map(_.head).toSet == Set(1L, 3L))
  }

  test("minhash LSH finds planted near-duplicates, skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val nearDup = base.replace("lazy", "sleepy") // one token changed
    val other = "completely different content about spark query engines " * 5
    val df = docsDf(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = rows(Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5))
    assert(pairs.map(p => (p(0), p(1))) == Seq((1L, 2L)), pairs)
    val deduped = Dedup.minhashDedup(df, "doc_id", "text", threshold = 0.5)
    assert(rows(deduped).map(_.head).toSet == Set(1L, 3L))
  }

  test("scratchDir spill mode: identical miner output, dirs reclaimed") {
    // spark.graft.scratchDir swaps a scoped checkpoint from
    // localCheckpoint (executor-local, dies with an executor) to a
    // parquet scratch write + read-back — the fault-tolerant
    // intermediate a cluster-scale pipeline lands in a real table
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val df = docsDf(Seq((1L, base), (2L, base.replace("lazy", "sleepy")),
      (3L, "completely different content about spark query engines " * 5)))
    val viaCheckpoint = rows(Dedup.minhashPairs(df, "doc_id", "text", 0.5))
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch-").toString
    def slotDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("slot-")).toSeq
    s.conf.set("spark.graft.scratchDir", dir)
    try {
      Scope {
        val viaScratch = rows(Dedup.minhashPairs(df, "doc_id", "text", 0.5))
        assert(viaScratch.toSet == viaCheckpoint.toSet,
          s"scratch-mode pairs differ: $viaScratch vs $viaCheckpoint")
        assert(slotDirs.nonEmpty, "scratch mode wrote no slot directories")
      }
      assert(slotDirs.isEmpty, s"scratch dirs not reclaimed: $slotDirs")
    } finally {
      s.conf.unset("spark.graft.scratchDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("jaccardPairs: exact pair set matches brute force, df cap bounds noise") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    val nearDup = base.replace("lazy", "sleepy")
    val other = "completely different content about spark query engines " * 5
    val df = docsDf(Seq((1L, base), (2L, nearDup), (3L, other), (4L, other + " extra")))
    val pairs = rows(Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.5))
    // brute force over the same shingle semantics
    val expected = {
      val texts = Map(1L -> base, 2L -> nearDup, 3L -> other, 4L -> (other + " extra"))
      val sets = texts.map { case (k, v) =>
        k -> v.toLowerCase.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet }
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
        if j >= 0.5
      } yield (a, b)).toSet
    }
    assert(pairs.map(p => (p(0), p(1))).toSet == expected, pairs)
    // every returned jaccard is a true value >= threshold
    pairs.foreach(p => assert(p(2).asInstanceOf[Double] >= 0.5))
    // a tiny df cap suppresses frequent-shingle candidates but star
    // pairs + verify still keep true near-dups (correctness: verify
    // filters any false star candidates)
    val capped = rows(Dedup.jaccardPairs(df, "doc_id", "text",
      threshold = 0.5, maxDf = 2))
    assert(capped.map(p => (p(0), p(1))).toSet == expected, capped)
  }

  test("ngram jaccard is 1 for identical and ~0 for disjoint") {
    val df = docsDf(Seq((1L, "x")))
      .select(Dedup.ngramJaccard(lit("a b c d"), lit("a b c d")).as("same"),
        Dedup.ngramJaccard(lit("a b c d"), lit("p q r s")).as("diff"))
    val r = df.head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("simhash pairs: near-identical docs collide, unrelated don't") {
    // high-frequency shared vocab -> large per-bit vote margins, so a
    // one-token edit keeps hamming distance within the 4x16 banding
    // guarantee (simhash LSH targets hamming <= 3)
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 30
    val near = base + "zeta omega"
    val far = Seq.tabulate(60)(i => s"other$i").mkString(" ")
    val df = docsDf(Seq((1L, base), (2L, near), (3L, far)))
    val pairs = rows(Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3))
    assert(pairs.map(p => (p(0), p(1))).contains((1L, 2L)), pairs)
    assert(!pairs.map(p => (p(0), p(1))).contains((1L, 3L)), pairs)
  }

  test("cross-corpus dedup: batch deduped against a persisted index") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val corpus = env.view("documents", Seq("doc_id", "text")).read()
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    try {
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", dir)
      // batch: near-copies of two corpus docs (one token appended) +
      // two genuinely fresh docs
      val near = corpus.filter(col("doc_id") < 2).select(
        (col("doc_id") + 5000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
      val fresh = docsDf(Seq(
        (9001L, "completely novel content about nothing else " * 10),
        (9002L, Seq.tabulate(40)(i => s"tok$i").mkString(" "))))
      val batch = near.unionByName(fresh)
      val kept = Dedup.dedupAgainstIndex(batch, "doc_id", "text", dir,
        threshold = 0.5)
      assert(rows(kept).map(_.head).toSet == Set(9001L, 9002L),
        rows(kept).map(_.head).toString)
      // fresh-only batch: untouched
      val kept2 = Dedup.dedupAgainstIndex(fresh, "doc_id", "text", dir,
        threshold = 0.5)
      assert(rows(kept2).map(_.head).toSet == Set(9001L, 9002L))
      // wrong index kind raises
      intercept[IllegalArgumentException] {
        val lsh = java.nio.file.Files.createTempDirectory("notmh").toString
        try {
          val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
          Similarity.buildIndex(emb, "embedding", "vec_id", lsh, 64)
          Dedup.dedupAgainstIndex(batch, "doc_id", "text", lsh)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(lsh))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** An index as builds before flat bands wrote it: `bands/`
    * Hive-partitioned by `__bp = bandHash mod buckets`, the meta
    * carrying `buckets`. */
  private def partitionedIndex(corpus: org.apache.spark.sql.DataFrame,
      dir: String, buckets: Int): Unit = {
    corpus.select(col("doc_id").as("__id"),
        Dedup.shingleHashes(col("text"), 3).as("__hs"))
      .write.parquet(s"$dir/docs")
    Dedup.bandedSignatures(corpus, "doc_id", "text", 128, 32, 3)
      .withColumn("__bp", pmod(col("__bsig"), lit(buckets.toLong)))
      .repartition(col("__bp"))
      .write.partitionBy("__bp").parquet(s"$dir/bands")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "_graft_index_meta.json"),
      s"""{"kind":"minhash","numHashes":128,"numBands":32,""" +
        s""""shingleSize":3,"buckets":$buckets}""")
  }

  private def partitionDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir, "bands").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("__bp=")).map(_.getName)

  test("a partitioned-bands index is rewritten flat before its first append") {
    val corpus = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away " * 5),
      (2L, "completely different content about spark query engines " * 5)))
    val added = "a freshly appended document about warehouse compaction cycles " * 5
    val dir = java.nio.file.Files.createTempDirectory("mhlegacy").toString
    try {
      partitionedIndex(corpus, dir, buckets = 8)
      assert(partitionDirs(dir).nonEmpty)
      assert(graft.ops.IndexDir.readAs[graft.ops.IndexDir.MinhashMeta](s, dir,
        "minhash").legacyBuckets == Some(8))
      Similarity.appendToIndex(docsDf(Seq((3L, added))), "text", "doc_id", dir)
      // a near-copy of the APPENDED doc must find it: appended files
      // next to partition directories would be invisible to the probe
      val probe = docsDf(Seq((10L, added + " zzz"),
        (11L, "nothing like any indexed text at all, just cooking pasta " * 5)))
      val kept = Scope(rows(Dedup.dedupAgainstIndex(probe, "doc_id", "text", dir,
        threshold = 0.5)).map(_.head))
      assert(kept == Seq(11L), kept)
      assert(partitionDirs(dir).isEmpty, partitionDirs(dir))
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      assert(graft.ops.IndexDir.problems(fs, new org.apache.hadoop.fs.Path(dir)).isEmpty)
      assert(graft.ops.IndexDir.readAs[graft.ops.IndexDir.MinhashMeta](s, dir,
        "minhash").legacyBuckets.isEmpty)
      assert(!java.nio.file.Files.readString(java.nio.file.Path.of(dir,
        "_graft_index_meta.json")).contains("buckets"))
      assert(s.read.parquet(s"$dir/docs").count() == 3L)
      assert(s.read.parquet(s"$dir/bands").columns.toSet ==
        Set("__id", "__band", "__bsig"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("dedupAgainstIndex keeps the same survivors on partitioned and flat bands") {
    val rnd = new scala.util.Random(7)
    val corpus = docsDf(Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(40)(s"w${rnd.nextInt(500)}").mkString(" "))))
    // near-copies (one token appended), token-reversed copies (fresh
    // at any threshold) and exact copies of corpus docs
    val batch = corpus.filter(col("doc_id") < 60).select(
        (col("doc_id") + 5000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" zzz")))
          .when(col("doc_id") % 3 === 1,
            concat_ws(" ", reverse(split(col("text"), "\\s+"))))
          .otherwise(col("text")).as("text"))
    val legacy = java.nio.file.Files.createTempDirectory("mhlegacy").toString
    val flat = java.nio.file.Files.createTempDirectory("mhflat").toString
    def kept(dir: String) = Scope(rows(Dedup.dedupAgainstIndex(batch, "doc_id",
      "text", dir, threshold = 0.5)).map(_.head.asInstanceOf[Long]).toSet)
    try {
      partitionedIndex(corpus, legacy, buckets = 16)
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", flat)
      val onLegacy = kept(legacy)
      assert(onLegacy.nonEmpty && onLegacy.size < 60, onLegacy)
      assert(kept(flat) == onLegacy)
      // the one-time rewrite (an append of a doc far from the batch)
      Similarity.appendToIndex(docsDf(Seq((9999L,
        "unrelated words about nothing in particular here " * 5))),
        "text", "doc_id", legacy)
      assert(partitionDirs(legacy).isEmpty)
      assert(kept(legacy) == onLegacy)
    } finally Seq(legacy, flat).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  /** The band packing the minhash kernels replaced: per band, XXH64 of
    * its mins' decimal strings joined by commas. */
  private def packedBands(mins: org.apache.spark.sql.Column, numBands: Int,
      rowsPerBand: Int): org.apache.spark.sql.Column =
    array((0 until numBands).map(b => xxhash64(concat_ws(",", (0 until rowsPerBand).map(r =>
      element_at(mins, b * rowsPerBand + r + 1).cast("string")): _*))): _*)

  test("band hashes equal the comma-joined xxhash64 packing they replace") {
    import graft.functions.MiningKernels
    val rnd = new scala.util.Random(11)
    val edge = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, -10L, 10L,
      Long.MinValue + 1, -999999999999L)
    // (numHashes, numBands): 10 / 4 leaves two mins out, as the packing did
    for ((numHashes, numBands) <- Seq((128, 32), (64, 16), (12, 3), (10, 4), (8, 8), (4, 1))) {
      val seeded = Seq.fill(20)(Seq.fill(numHashes)(rnd.nextLong() >> rnd.nextInt(64))) :+
        Seq.tabulate(numHashes)(i => edge(i % edge.size))
      // a null mins array, and one with a null element and a short tail
      val gaps = Seq(null,
        (Seq[java.lang.Long](5L, null) ++ Seq.fill(numHashes / 2)(Long.box(-7L))).asJava)
      val df = s.createDataFrame((seeded.map(_.map(Long.box).asJava) ++ gaps)
          .map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))
      val rowsPerBand = numHashes / numBands
      val got = rows(df.select(MiningKernels.bandHashes(col("m"), numBands, rowsPerBand)))
      val want = rows(df.select(when(col("m").isNotNull, packedBands(col("m"), numBands,
        rowsPerBand))))
      assert(got == want, s"$numHashes hashes in $numBands bands")
      assert(got.map(_.head == null) == Seq.fill(seeded.size)(false) ++ Seq(true, false))
    }
  }

  test("an index whose bands were packed as strings probes with the same survivors") {
    val rnd = new scala.util.Random(7)
    val corpus = docsDf(Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(40)(s"w${rnd.nextInt(500)}").mkString(" "))))
    val batch = corpus.filter(col("doc_id") < 60).select(
        (col("doc_id") + 5000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" zzz")))
          .when(col("doc_id") % 3 === 1,
            concat_ws(" ", reverse(split(col("text"), "\\s+"))))
          .otherwise(col("text")).as("text"))
    val packed = java.nio.file.Files.createTempDirectory("mhpacked").toString
    val built = java.nio.file.Files.createTempDirectory("mhbuilt").toString
    def kept(dir: String) = Scope(rows(Dedup.dedupAgainstIndex(batch, "doc_id",
      "text", dir, threshold = 0.5)).map(_.head.asInstanceOf[Long]).toSet)
    try {
      // the index as the string packing wrote it
      corpus.select(col("doc_id").as("__id"),
          Dedup.shingleHashes(col("text"), 3).as("__hs"))
        .write.parquet(s"$packed/docs")
      corpus.select(col("doc_id").as("__id"), posexplode(packedBands(
          Dedup.minhashSignature(col("text"), 128, 3), 32, 4)))
        .select(col("__id"), col("pos").as("__band"), col("col").as("__bsig"))
        .write.parquet(s"$packed/bands")
      java.nio.file.Files.writeString(java.nio.file.Path.of(packed, "_graft_index_meta.json"),
        """{"kind":"minhash","numHashes":128,"numBands":32,"shingleSize":3}""")
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", built)
      val bands = Seq(packed, built).map(d => s.read.parquet(s"$d/bands"))
      assert(bands.head.count() == 200L * 32)
      assert(bands.head.exceptAll(bands(1)).isEmpty && bands(1).exceptAll(bands.head).isEmpty)
      val onPacked = kept(packed)
      assert(onPacked.nonEmpty && onPacked.size < 60, onPacked)
      assert(kept(built) == onPacked)
    } finally Seq(packed, built).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("simhash banding is exact for hamming <= 3 on real docs") {
    // 4 bands x 16 bits pigeonhole: hamming <= 3 forces one identical
    // band, so simhashPairs(maxHamming=3) must equal the brute-force
    // pair set computed from per-doc signatures — on the real corpus,
    // not just planted cases
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val docs = env.view("documents", Seq("doc_id", "text")).read()
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ida, idb, h.toLong)).toSet
    val got = rows(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
      .map(r => (r.head, r(1), r(2))).toSet
    assert(got == brute, s"lsh=${got.size} brute=${brute.size}")
  }

  test("simhash pairs: dense identical cluster degrades to O(n) star pairs") {
    // 3000 identical docs collide into ONE chunk bucket in every band;
    // an uncapped self-join would emit 3000*2999/2 ≈ 4.5M pairs (the
    // quadratic stuck-stage shape at 100 TB). The bucketPairs star
    // degrade must emit exactly n-1 pairs, all against the min id.
    val n = 3000
    val df = docsDf(Seq.tabulate(n)(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta")))
    val pairs = rows(Dedup.simhashPairs(df, "doc_id", "text",
      maxHamming = 3, maxBucket = 100))
    assert(pairs.size == n - 1, s"expected ${n - 1} star pairs, got ${pairs.size}")
    assert(pairs.forall(p => p.head == 0L && p(2) == 0L), pairs.take(5))
    assert(pairs.map(p => p(1)).toSet == (1L until n.toLong).toSet)
  }

  test("brute-force cosine top-k is exact") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)))
    val df = s.createDataFrame(vecs.map(v =>
      org.apache.spark.sql.Row(v._1, v._2)).asJava, schema)
    val top = rows(Similarity.bruteForceTopK(df, "embedding", "vec_id",
      Seq(1f, 0f), 2))
    assert(top.map(_.head) == Seq(1L, 2L), top)
  }

  test("pcaBasis/pcaProject: orthonormal sign-fixed basis, variance order, k=d isometry") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val d = emb.head().getSeq[Float](1).size
    val basis @ (comps, _) = Similarity.pcaBasis(emb, "embedding", d)
    // orthonormal basis
    for (i <- comps.indices; j <- i until comps.length) {
      val dp = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dp - (if (i == j) 1.0 else 0.0)) < 1e-9, s"($i,$j)=$dp")
    }
    // sign convention: the max-|coefficient| entry is positive
    comps.foreach(c => assert(c.maxBy(math.abs) > 0))
    // k = d is a rotation: pairwise distances preserved exactly
    val proj = emb.limit(10).select(
      col("embedding").cast("array<double>").as("v"),
      Similarity.pcaProject(col("embedding"), basis).as("p")).collect()
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (pair <- proj.toSeq.combinations(2)) {
      val (r1, r2) = (pair.head, pair.last)
      val dv = dist(r1.getSeq[Double](0), r2.getSeq[Double](0))
      val dp = dist(r1.getSeq[Double](1), r2.getSeq[Double](1))
      assert(math.abs(dv - dp) < 1e-6, s"$dv vs $dp")
    }
    // truncated basis: same leading components, descending variance
    val b2 @ (c2, _) = Similarity.pcaBasis(emb, "embedding", 2)
    assert(c2(0).zip(comps(0)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    val p2 = emb.select(Similarity.pcaProject(col("embedding"), b2).as("p"))
      .collect().map(_.getSeq[Double](0))
    def varOf(i: Int) = {
      val xs = p2.map(_(i)); val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    assert(varOf(0) >= varOf(1) - 1e-9, s"${varOf(0)} < ${varOf(1)}")
  }

  test("LSH ANN recalls planted near-duplicates and actually prunes") {
    // sign-LSH recall targets genuinely-near vectors; the synthetic
    // embeddings' best pair is only cos~0.45 (indistinguishable from
    // noise for banding), so plant true near-dups of the query: a
    // scaled copy (cos 1.0) and a slightly perturbed one.
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val perturbed = q.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.02f * math.abs(v).max(0.1f).toFloat else v }
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f)),
      org.apache.spark.sql.Row(1000002L, perturbed)).asJava,
      emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val ann = rows(Similarity.annTopK(pool, "embedding", "vec_id", q, 10, q.size))
      .map(_.head)
    assert(ann.contains(1000001L) && ann.contains(1000002L),
      s"planted near-dups missing from ANN top-10: $ann")
    // pruning: vectors sharing an exact band with the query must be
    // far below the pool size (multi-probe adds ~bandBits × 2^-bandBits
    // more — still negligible)
    val n = pool.count()
    val qBands = spark.range(1).select(explode(Similarity.lshBands(
      array(q.map(v => lit(v)): _*), q.size)).as("__band"))
    val cand = pool.select(col("vec_id"),
        explode(Similarity.lshBands(col("embedding"), q.size)).as("__band"))
      .join(qBands, Seq("__band")).select("vec_id").distinct().count()
    assert(cand < n / 5, s"ANN candidate set $cand is not ≪ pool size $n")
  }

  test("lshBands, bulk signatures, and driver-side signatureOf agree bit-for-bit") {
    // the probe path (driver literal), the per-row column path, and
    // the bulk explode+agg path MUST produce identical band values or
    // recall silently collapses — pinned here on real embeddings
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
      .filter(col("vec_id") < 50)
    val dims = emb.head().getSeq[Float](1).size
    val perRow = rows(emb.select(col("vec_id"),
        Similarity.lshBands(col("embedding"), dims).as("b")))
      .map(r => r.head -> r(1)).toMap
    val bulk = rows(Similarity.signatures(emb, "embedding", "vec_id", dims))
      .map(r => r.head -> r(1)).toMap
    val driver = emb.collect().map(r =>
      r.get(0) -> Similarity.signatureOf(r.getSeq[Float](1), dims)).toMap
    assert(perRow.keySet == bulk.keySet && bulk.keySet == driver.keySet)
    perRow.keySet.foreach { id =>
      assert(perRow(id) == bulk(id), s"per-row vs bulk mismatch for $id")
      assert(bulk(id).asInstanceOf[scala.collection.Seq[Long]].toSeq
        == driver(id), s"bulk vs driver mismatch for $id")
    }
  }

  test("indexed ANN: probes read only probed partitions, recall holds") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f))).asJava, emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    try {
      Similarity.buildIndex(pool, "embedding", "vec_id", dir, q.size)
      val ann = Similarity.annTopKIndexed(spark, dir, "embedding", "vec_id", q, 10)
      val got = rows(ann).map(_.head)
      assert(got.contains(1000001L), s"planted dup missing from indexed ANN: $got")
      // same answer as the index-less path
      val direct = rows(Similarity.annTopK(pool, "embedding", "vec_id",
        q, 10, q.size)).map(_.head)
      assert(got == direct, s"indexed $got != direct $direct")
      // pruning is structural: the probed dirs are a strict subset of
      // the index's partition dirs
      val allDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__bp=")).map(_.getName).toSet
      // probe set = 4 bands × (1 + 16 flips) → ≤ 68 buckets of 256
      assert(allDirs.size > 68, s"index only has ${allDirs.size} partitions")
      val probedDirs = ann.inputFiles.map(f =>
        new java.io.File(f).getParentFile.getName).toSet
      assert(probedDirs.subsetOf(allDirs) && probedDirs.size <= 68,
        s"indexed query read ${probedDirs.size} partitions: $probedDirs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("indexed ANN: incremental append matches a full rebuild") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f))).asJava, emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val full = java.nio.file.Files.createTempDirectory("annfull").toString
    val incr = java.nio.file.Files.createTempDirectory("annincr").toString
    try {
      Similarity.buildIndex(pool, "embedding", "vec_id", full, q.size)
      // incremental: build on the first half, append the rest (incl.
      // the planted dup) — queries must return the same top-k
      val (lo, hi) = (pool.filter(col("vec_id") < 250),
        pool.filter(col("vec_id") >= 250))
      Similarity.buildIndex(lo, "embedding", "vec_id", incr, q.size)
      Similarity.appendToIndex(hi, "embedding", "vec_id", incr)
      val a = rows(Similarity.annTopKIndexed(spark, full, "embedding", "vec_id", q, 10)).map(_.head)
      val b = rows(Similarity.annTopKIndexed(spark, incr, "embedding", "vec_id", q, 10)).map(_.head)
      assert(a == b, s"full=$a incremental=$b")
      assert(b.contains(1000001L), b)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(full))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(incr))
    }
  }

  test("vector cross-corpus dedup: batch deduped against persisted LSH index") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val dims = emb.head().getSeq[Float](1).size
    val dir = java.nio.file.Files.createTempDirectory("vecxidx").toString
    try {
      Similarity.buildIndex(emb, "embedding", "vec_id", dir, dims, buckets = 64)
      // batch: scaled near-copies of two corpus vectors (cosine 1.0)
      // + two reversed vectors (max corpus cosine ~0.4 on this data)
      val near = emb.filter(col("vec_id") < 2).select(
        (col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val fresh = emb.filter(col("vec_id") >= 2 && col("vec_id") < 4).select(
        (col("vec_id") + 6000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val batch = near.unionByName(fresh)
      val kept = Similarity.dedupAgainstIndex(batch, "embedding", "vec_id",
        dir, threshold = 0.95)
      assert(rows(kept).map(_.head).toSet == Set(6002L, 6003L),
        rows(kept).map(_.head).toString)
      // batch-proportionality: the probe reads ONLY the partition dirs
      // the batch's own band values hash into — a strict subset of the
      // index (driver-side path selection, never a full index scan)
      val allDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__bp="))
        .map(_.getName).toSet
      val expected = rows(batch).flatMap(r =>
        Similarity.signatureOf(
          r(1).asInstanceOf[scala.collection.Seq[Float]].toSeq, dims))
        .map(b => s"__bp=${((b % 64) + 64) % 64}").toSet
      val readDirs = kept.inputFiles.filter(_.contains(dir))
        .map(f => new java.io.File(f).getParentFile.getName).toSet
      assert(readDirs.nonEmpty && readDirs.subsetOf(expected),
        s"probe read $readDirs beyond the batch's own buckets $expected")
      assert(readDirs.size < allDirs.size,
        s"probe read all ${allDirs.size} index partitions")
      // fresh-only batch: untouched
      assert(rows(Similarity.dedupAgainstIndex(fresh, "embedding", "vec_id",
        dir, threshold = 0.95)).map(_.head).toSet == Set(6002L, 6003L))
      // wrong index kind raises
      intercept[IllegalArgumentException] {
        val ivf = java.nio.file.Files.createTempDirectory("notlsh").toString
        try {
          Similarity.buildIvfIndex(emb, "embedding", "vec_id", ivf, dims,
            nlist = 4)
          Similarity.dedupAgainstIndex(batch, "embedding", "vec_id", ivf, 0.95)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(ivf))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("semantic index: batch deduped against persisted k-means clusters") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val dir = java.nio.file.Files.createTempDirectory("semidx").toString
    try {
      Similarity.buildSemanticIndex(emb, "embedding", "vec_id", dir, k = 8)
      // batch: scaled near-copies of two corpus vectors (identical
      // direction -> same argmin centroid as their originals, cosine
      // 1.0) + two reversed vectors (max corpus cosine ~0.4)
      val near = emb.filter(col("vec_id") < 2).select(
        (col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val fresh = emb.filter(col("vec_id") >= 2 && col("vec_id") < 4).select(
        (col("vec_id") + 6000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val batch = near.unionByName(fresh)
      val kept = Similarity.semanticDedupAgainstIndex(batch, "embedding",
        "vec_id", dir, threshold = 0.95)
      assert(rows(kept).map(_.head).toSet == Set(6002L, 6003L),
        rows(kept).map(_.head).toString)
      // batch-proportionality: the probe reads ONLY the cluster dirs
      // the batch assigned into (driver-side path selection over <= k
      // ints) — 4 batch vectors can touch at most 4 of the 8 clusters
      val allDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__c="))
        .map(_.getName).toSet
      val readDirs = kept.inputFiles.filter(_.contains(dir))
        .map(f => new java.io.File(f).getParentFile.getName).toSet
      assert(readDirs.nonEmpty && readDirs.size <= 4 &&
        readDirs.size < allDirs.size,
        s"probe read $readDirs of $allDirs")
      // fresh-only batch survives whole; wrong index kind raises
      assert(rows(Similarity.semanticDedupAgainstIndex(fresh, "embedding",
        "vec_id", dir, threshold = 0.95)).map(_.head).toSet
        == Set(6002L, 6003L))
      intercept[IllegalArgumentException] {
        Similarity.dedupAgainstIndex(batch, "embedding", "vec_id", dir, 0.95)
      }
      intercept[IllegalArgumentException] {
        val lsh = java.nio.file.Files.createTempDirectory("notsem").toString
        try {
          Similarity.buildIndex(emb, "embedding", "vec_id", lsh, 64)
          Similarity.semanticDedupAgainstIndex(batch, "embedding", "vec_id",
            lsh, 0.95)
        } finally org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(lsh))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("semantic index append: survivors grow the index, drift retrains") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val corpus = emb.filter(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("semapp").toString
    try {
      Similarity.buildSemanticIndex(corpus, "embedding", "vec_id", dir, k = 8)
      // survivors of batch 1 (a fresh reversed vector) append in
      val fresh = corpus.filter(col("vec_id") === 2).select(
        lit(6000L).as("vec_id"), reverse(col("embedding")).as("embedding"))
      val kept1 = Similarity.semanticDedupAgainstIndex(fresh, "embedding",
        "vec_id", dir, threshold = 0.95)
      assert(rows(kept1).map(_.head) == Seq(6000L))
      Similarity.appendToIndex(kept1, "embedding", "vec_id", dir,
        retrainAt = Double.MaxValue)
      // batch 2: a near-copy of the APPENDED vector must now be caught
      // (the grown index covers it), a near-copy of an original corpus
      // member stays caught, a fresh double-reversed-ish vector survives
      val batch2 = corpus.filter(col("vec_id") === 2).select(
          lit(7000L).as("vec_id"),
          transform(reverse(col("embedding")), x => x * lit(1.001f))
            .as("embedding"))
        .unionByName(corpus.filter(col("vec_id") === 1).select(
          lit(7001L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
      val kept2 = Similarity.semanticDedupAgainstIndex(batch2, "embedding",
        "vec_id", dir, threshold = 0.95)
      assert(rows(kept2).isEmpty, rows(kept2).map(_.head).toString)
      // tallies recorded on the frozen index
      def meta() = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(dir, "_graft_index_meta.json")), "UTF-8"))
      assert(meta().get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .map(_.toString.toLong).sum == 1L)
      assert(meta().get("trainedCount").toString.toLong == 200L)
      // drift: appending 150 rows (> 0.5 x 200 trained) auto-retrains —
      // full mass becomes the new baseline, tallies reset, and the
      // retrained index still dedupes near-copies of appended rows
      val big = emb.filter(col("vec_id") >= 200 && col("vec_id") < 350)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
      Similarity.appendToIndex(big, "embedding", "vec_id", dir)
      assert(meta().get("trainedCount").toString.toLong == 351L,
        meta().toString)
      assert(meta().get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .forall(_.toString.toLong == 0L))
      val probe = emb.filter(col("vec_id") === 210).select(
        lit(8000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      assert(rows(Similarity.semanticDedupAgainstIndex(probe, "embedding",
        "vec_id", dir, threshold = 0.95)).isEmpty)
      // wrong kind refuses
      intercept[IllegalArgumentException] {
        Similarity.appendToIndex(big, "embedding", "vec_id",
          java.nio.file.Files.createTempDirectory("nosem").toString)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("quantized IVF: int8 storage, same top-k ids, quantized append") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame((0 until 5).map(i =>
      org.apache.spark.sql.Row(1000000L + i, q.map(_ * 1.001f))).asJava,
      emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val qdir = java.nio.file.Files.createTempDirectory("qivf").toString
    val fdir = java.nio.file.Files.createTempDirectory("fivf").toString
    try {
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", qdir, q.size,
        nlist = 16, quantized = true)
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", fdir, q.size,
        nlist = 16)
      // storage really is int8: scale double + tinyint array
      val schema = spark.read.parquet(qdir).schema
      assert(schema.fieldNames.contains("__qv"), schema.treeString)
      assert(schema("__qv").dataType.simpleString ==
        "struct<scale:double,q:array<tinyint>>", schema.treeString)
      // planted dominant dups survive quantization: same id set as the
      // full-precision index
      def ids(dir: String) = rows(Similarity.ivfTopK(spark, dir,
        "embedding", "vec_id", q, 10, nprobe = 4)).map(_.head).toSet
      assert(ids(qdir) == ids(fdir), s"${ids(qdir)} vs ${ids(fdir)}")
      // append keeps the quantized layout and stays queryable
      val extra = spark.createDataFrame(Seq(
        org.apache.spark.sql.Row(2000001L, q.map(_ * 0.999f))).asJava,
        emb.schema)
      Similarity.appendToIndex(extra, "embedding", "vec_id", qdir)
      val after = rows(Similarity.ivfTopK(spark, qdir, "embedding",
        "vec_id", q, 11, nprobe = 1)).map(_.head)
      assert(after.contains(2000001L), s"appended dup missing: $after")
      assert(spark.read.parquet(qdir).schema.fieldNames.contains("__qv"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(qdir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fdir))
    }
  }

  test("IVF append: stored-centroid assignment, recall after append") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f))).asJava, emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0 && col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString
    try {
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", dir, q.size, nlist = 16)
      val extra = emb.filter(col("vec_id") >= 400).select(
        (col("vec_id") + 2000L).as("vec_id"), col("embedding"))
      // retrainAt=MaxValue: this test proves the FROZEN-centroid path
      // (the retrain trigger has its own recall-proof test below)
      Similarity.appendToIndex(planted.unionByName(extra), "embedding",
        "vec_id", dir, retrainAt = Double.MaxValue)
      // the appended near-copy of q lands in q's nearest centroid, so
      // even an nprobe=1 query recalls it — proof the append assigned
      // with the index's frozen centroids, not arbitrarily
      val got = rows(Similarity.ivfTopK(spark, dir, "embedding", "vec_id",
        q, 10, nprobe = 1)).map(_.head)
      assert(got.contains(1000001L), s"appended dup missing at nprobe=1: $got")
      // every appended vector sits in its exact argmin centroid
      // partition (first-index tie-break), checked against the meta
      // centroids brute-force on the driver
      val metaText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_index_meta.json")), "UTF-8")
      val cents = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](metaText)
        .get("centroids").asInstanceOf[java.util.List[java.util.List[Object]]]
        .asScala.map(_.asScala.map(_.toString.toDouble).toArray)
      val assigned = spark.read.parquet(dir)
        .filter(col("vec_id") >= 2000L && col("vec_id") < 1000000L)
        .select(col("vec_id"), col("__c")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val vecs = rows(extra).map(r =>
        r.head.asInstanceOf[Long] ->
          r(1).asInstanceOf[scala.collection.Seq[Float]].toSeq.map(_.toDouble))
      assert(vecs.nonEmpty && assigned.size == vecs.size)
      vecs.foreach { case (vid, v) =>
        val dists = cents.map(c =>
          c.toSeq.lazyZip(v).map((a, b) => (a - b) * (a - b)).sum)
        val exp = dists.indexOf(dists.min)
        assert(assigned(vid) == exp, s"vec $vid in __c=${assigned(vid)}, argmin $exp")
      }
      // dimension mismatch is an error, not wrong-partition appends
      intercept[IllegalArgumentException] {
        val bad = spark.createDataFrame(Seq(
          org.apache.spark.sql.Row(9L, Seq(1f, 2f))).asJava, emb.schema)
        Similarity.appendToIndex(bad, "embedding", "vec_id", dir)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("IVF retrain trigger: skewed append reclusters, recall recovers") {
    // trained data: two tight clusters on axes e0 / e1; appended data:
    // a THIRD cluster on e2 whose points tilt alternately toward e0 or
    // e1 — under frozen centroids that cluster splits across two probe
    // lists, so an nprobe=1 query recalls only half of it. The append
    // exceeds retrainAt x trained mass, so the index reclusters and
    // the new cluster gets its own centroid.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val trained = vdf(
      (0 until 100).map(i => (i.toLong, Seq(1f, 0.001f * i, 0f, 0f))) ++
      (0 until 100).map(i => (1000L + i, Seq(0.001f * i, 1f, 0f, 0f))))
    val batch = vdf((0 until 150).map { i =>
      val tilt = 0.35f
      (3000L + i, if (i % 2 == 0) Seq(tilt, 0f, 1f, 0f)
                  else Seq(0f, tilt, 1f, 0f))
    })
    val qc = Seq(0f, 0f, 1f, 0f)
    val all = trained.unionByName(batch)
    val brute = rows(Similarity.bruteForceTopK(all, "embedding", "vec_id",
      qc, 10)).map(_.head.asInstanceOf[Long]).toSet
    def recall(dir: String): Double = {
      val got = rows(Similarity.ivfTopK(s, dir, "embedding", "vec_id",
        qc, 10, nprobe = 1)).map(_.head.asInstanceOf[Long]).toSet
      got.intersect(brute).size / 10.0
    }
    val frozen = java.nio.file.Files.createTempDirectory("ivffroz").toString
    val auto = java.nio.file.Files.createTempDirectory("ivfauto").toString
    try {
      for (d <- Seq(frozen, auto))
        Similarity.buildIvfIndex(trained, "embedding", "vec_id", d,
          dims = 4, nlist = 3)
      Similarity.appendToIndex(batch, "embedding", "vec_id", frozen,
        retrainAt = Double.MaxValue)
      // 150 appended > 0.5 x 200 trained -> auto-retrains inside append
      Similarity.appendToIndex(batch, "embedding", "vec_id", auto)
      val (rFrozen, rAuto) = (recall(frozen), recall(auto))
      assert(rAuto > rFrozen,
        s"retrain did not improve recall: frozen=$rFrozen auto=$rAuto")
      assert(rAuto == 1.0, s"retrained nprobe=1 recall $rAuto != 1.0")
      // retrain resets the drift baseline: full mass trained, no appends
      val meta = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(auto, "_graft_index_meta.json")), "UTF-8"))
      assert(meta.get("trainedCount").toString.toLong == 350L)
      assert(meta.get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .forall(_.toString.toLong == 0L))
      // the frozen twin records its un-retrained tallies instead
      val fm = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(frozen, "_graft_index_meta.json")), "UTF-8"))
      assert(fm.get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .map(_.toString.toLong).sum == 150L)
    } finally for (d <- Seq(frozen, auto))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("append tally journal: a crashed meta update folds into the next append") {
    import graft.ops.Similarity
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val trained = vdf(
      (0 until 15).map(i => (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
      (0 until 15).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f))))
    val batchA = vdf((0 until 20).map(i =>
      (3000L + i, Seq(0.3f, 0f, 1f, 0.01f * i))))
    val batchB = vdf(Seq((5000L, Seq(0f, 0.3f, 1f, 0f)),
      (5001L, Seq(0f, 0.31f, 1f, 0f))))
    val dir = java.nio.file.Files.createTempDirectory("ivfjournal").toString
    def journals() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_graft_tally_journal_")).toSeq
    def metaText() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json")), "UTF-8")
    def meta() = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](metaText())
    try {
      Similarity.buildIvfIndex(trained, "embedding", "vec_id", dir,
        dims = 4, nlist = 2)
      Similarity.appendToIndex(batchA, "embedding", "vec_id", dir,
        retrainAt = Double.MaxValue)
      // the happy path cleans up after itself
      assert(journals().isEmpty, journals().map(_.getName))
      val counts = meta().get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala.map(_.toString.toLong)
      assert(counts.sum == 20L, counts)
      // simulate a kill between batchA's parquet commit and its meta
      // update: the rows are already in the index (they are), the
      // journal survives, and the meta still shows zero appended mass
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_graft_tally_journal_crashsim.json"),
        counts.zipWithIndex.map { case (n, c) => s""""$c": $n""" }
          .mkString("{", ", ", "}").getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_graft_index_meta.json"),
        metaText().replaceAll("\"appendedCounts\":\\s*\\[[^\\]]*\\]",
          "\"appendedCounts\": [0, 0]").getBytes("UTF-8"))
      // drop the Hadoop local-FS checksum sidecar the out-of-band
      // rewrite invalidated (a real crash loses the write+crc pair
      // together, so production never sees this)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._graft_index_meta.json.crc"))
      // reopen + append 2 rows at retrainAt = 0.6: journal 20 + batch 2
      // = 22 > 0.6 x 30 trained, while 2 alone would never cross — the
      // retrain firing proves the crashed delta was folded back in
      Similarity.appendToIndex(batchB, "embedding", "vec_id", dir,
        retrainAt = 0.6)
      assert(meta().get("trainedCount").toString.toLong == 52L, metaText())
      assert(meta().get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .forall(_.toString.toLong == 0L), metaText())
      assert(journals().isEmpty, journals().map(_.getName))
      assert(s.read.parquet(dir).count() == 52L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("crashed retrain swap (index at __old) heals on next open") {
    // the retrain swap renames live -> __old, scratch -> live; a crash
    // between the renames leaves only __old — any entry point that
    // opens the index must roll the rename back before proceeding
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val dir = java.nio.file.Files.createTempDirectory("ivfheal").toString
    try {
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, q.size, nlist = 4)
      val before = rows(Similarity.ivfTopK(spark, dir, "embedding", "vec_id",
        q, 5, nprobe = 2)).map(_.head)
      // simulate the crash window
      val live = java.nio.file.Paths.get(dir)
      val aside = java.nio.file.Paths.get(dir + "__old")
      java.nio.file.Files.move(live, aside)
      assert(!java.nio.file.Files.exists(live))
      val after = rows(Similarity.ivfTopK(spark, dir, "embedding", "vec_id",
        q, 5, nprobe = 2)).map(_.head)
      assert(after == before, s"healed index differs: $after vs $before")
      assert(java.nio.file.Files.exists(live) &&
        !java.nio.file.Files.exists(aside), "swap not rolled back")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir + "__old")): Unit
    }
  }

  test("leading null vector: appends, probes and semantic builds size from the first non-null row") {
    // with ANSI off Spark sizes a null array as -1, so sizing a batch
    // from its FIRST row read a leading null as "-1 dims"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val corpus = vdf((0 until 10).map(i => (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
      (0 until 10).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f))))
    val withNull = vdf(Seq((500L, null), (501L, Seq(0f, 0f, 1f, 0f))))
    val (ivf, sem) = (java.nio.file.Files.createTempDirectory("nullivf").toString,
      java.nio.file.Files.createTempDirectory("nullsem").toString)
    try {
      Similarity.buildIvfIndex(corpus, "embedding", "vec_id", ivf, dims = 4,
        nlist = 2)
      Similarity.appendToIndex(withNull, "embedding", "vec_id", ivf,
        retrainAt = Double.MaxValue)
      // the null row carries nothing to index; the vector row lands
      assert(s.read.parquet(ivf).count() == 21L)
      // a semantic build from a frame led by a null records the real
      // width, and a probe with a leading null sizes the same way
      Similarity.buildSemanticIndex(withNull.unionByName(corpus), "embedding",
        "vec_id", sem, k = 2)
      assert(graft.ops.IndexDir.readAs[graft.ops.IndexDir.SemanticMeta](s,
        sem, "semantic").dims == 4)
      assert(rows(Similarity.semanticDedupAgainstIndex(
        vdf(Seq((600L, null), (601L, Seq(1f, 0f, 0f, 0f)))), "embedding",
        "vec_id", sem, threshold = 0.99)).map(_.head) == Seq(600L))
      // an empty or all-null frame has no width to record
      for (df <- Seq(corpus.limit(0), withNull.limit(1))) {
        val e = intercept[IllegalArgumentException](Similarity
          .buildSemanticIndex(df, "embedding", "vec_id", sem + "x", k = 2))
        assert(e.getMessage.contains("no non-null"), e.getMessage)
      }
    } finally for (d <- Seq(ivf, sem))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("IVF ANN: probes read only nprobe centroid partitions, recall holds") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f))).asJava, emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", dir, q.size, nlist = 16)
      val ann = Similarity.ivfTopK(spark, dir, "embedding", "vec_id", q, 10, nprobe = 2)
      val got = rows(ann).map(_.head)
      // the planted near-copy shares q's nearest centroid -> recalled
      assert(got.contains(1000001L), s"planted dup missing from IVF ANN: $got")
      // structural pruning: probed dirs ⊂ all centroid dirs, ≤ nprobe
      val allDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__c=")).map(_.getName).toSet
      assert(allDirs.size > 2, s"index only has ${allDirs.size} partitions")
      val probedDirs = ann.inputFiles.map(f =>
        new java.io.File(f).getParentFile.getName).toSet
      assert(probedDirs.subsetOf(allDirs) && probedDirs.size <= 2,
        s"IVF query read ${probedDirs.size} partitions: $probedDirs")
      // dimension mismatch is an error, not silent zero recall
      intercept[IllegalArgumentException] {
        Similarity.ivfTopK(spark, dir, "embedding", "vec_id", Seq(1f, 2f), 5)
      }
      // wrong index kind is an error, not a missing-key crash
      intercept[IllegalArgumentException] {
        Similarity.annTopKIndexed(spark, dir, "embedding", "vec_id", q, 5)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("overflow buckets degrade to star pairs, not silence") {
    // >maxBucket identical vectors collide in ALL bands; dropping the
    // bucket would yield zero pairs for exactly the densest-duplicate
    // cluster. The star-pair fallback links every member to the min id.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val base = Seq.tabulate(8)(i => 0.1f * (i + 1))
    val df = s.createDataFrame((0L until 12L).map(i =>
      org.apache.spark.sql.Row(i, base)).asJava, schema)
    val got = rows(Similarity.cosinePairs(df, "embedding", "vec_id",
      threshold = 0.99, dims = 8, maxBucket = 5)).map(r => (r.head, r(1))).toSet
    assert(got == (1L until 12L).map(i => (0L, i)).toSet, got)
    // same policy on the minhash path
    val docs = docsDf((0L until 12L).map(i => (i, "same text " * 20)))
    val mh = rows(Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.9, maxBucket = 5)).map(r => (r.head, r(1))).toSet
    assert(mh == (1L until 12L).map(i => (0L, i)).toSet, mh)
    // and on the simhash path
    val sh = rows(Dedup.simhashPairs(docs, "doc_id", "text",
      maxBucket = 5)).map(r => (r.head, r(1))).toSet
    assert(sh == (1L until 12L).map(i => (0L, i)).toSet, sh)
  }

  test("bucketPairs: all pairs up to maxBucket, star pairs past it, streamed") {
    // buckets just under, at and past the cap, repeated ids, and ids of
    // one bucket spread over many input partitions
    val rnd = new scala.util.Random(3)
    val maxBucket = 4
    val members = (0 until 40).map(b => b -> Seq.fill(1 + rnd.nextInt(8))(
      rnd.nextInt(30).toLong)).toMap
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__b",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("__id",
        org.apache.spark.sql.types.LongType)))
    val banded = s.createDataFrame(rnd.shuffle(members.toSeq.flatMap { case (b, ids) =>
      ids.map(i => org.apache.spark.sql.Row(b, i)) }).asJava, schema).repartition(7)
    val want = members.values.flatMap { ids =>
      val sorted = ids.sorted
      if (ids.size <= maxBucket)
        for (a <- sorted; b <- sorted if a < b) yield (a, b)
      else sorted.filter(_ != sorted.head).map(i => (sorted.head, i))
    }.toSet
    val got = rows(Dedup.bucketPairs(banded, Seq("__b"), maxBucket))
      .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(got.size == got.distinct.size, "pairs repeat")
    assert(got.toSet == want, (got.toSet -- want, want -- got.toSet))
  }

  test("cosinePairs: planted dups found, candidate pairs ≪ n², cap bounds skew") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val planted = emb.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val pool = emb.unionByName(planted)
    val dims = emb.head().getSeq[Float](1).size
    val got = rows(Similarity.cosinePairs(pool, "embedding", "vec_id",
      threshold = 0.95, dims = dims)).map(r => (r.head, r(1))).toSet
    assert((0L until 10L).forall(i => got.contains((i, i + 1000000L))),
      s"missing planted pairs in $got")
    // only the 10 planted pairs survive verification...
    assert(got.size == 10, got)
    // ...and the pre-verify candidate set is tiny: with a degenerate
    // all-same-band column the cap would bound it, with real LSH the
    // banding itself does (n=~510 → n² ≈ 260k; candidates ≤ ~50)
    val banded = pool.select(col("vec_id").as("__id"),
      explode(Similarity.lshBands(col("embedding"), dims)).as("__band"))
    val candPairs = banded.groupBy("__band").count()
      .agg(sum(expr("count * (count - 1) / 2"))).head.getDouble(0)
    assert(candPairs < 1000, s"candidate pairs $candPairs not ≪ n²")
  }

  test("text metrics") {
    val df = docsDf(Seq((1L, "The quick brown fox."), (2L, ""), (3L, "  ")))
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("toks"),
        Text.punctRatio(col("text")).as("punct"),
        Text.fingerprint(col("text")).as("fp"))
    val got = rows(df.orderBy("doc_id"))
    assert(got(0)(1) == 4 && got(1)(1) == 0 && got(2)(1) == 0)
    assert(got(0)(2).asInstanceOf[Double] > 0)
  }

  test("langId picks plausible languages") {
    val df = docsDf(Seq(
      (1L, "the cat and the dog of the house is that"),
      (2L, "der hund und die katze ist nicht das"),
      (3L, "le chat et la maison est une des"),
      (4L, "中文文本内容")))
      .select(col("doc_id"), Text.langId(col("text")).as("lang"))
    assert(rows(df.orderBy("doc_id")).map(_(1)) == Seq("en", "de", "fr", "zh"))
  }

  test("imageio decoder: real PNG dimensions and luma, fake fallback") {
    // generate a 24x16 PNG in-memory: left half black, right half white
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24)
      img.setRGB(x, y, if (x < 12) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val df = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, png),
      org.apache.spark.sql.Row(2L, "not an image".getBytes("UTF-8"))).asJava, schema)
    val media = df.select(col("doc_id"),
      Multimodal.asMedia(col("payload"), "image/png", lit("mem://t")).as("media"))
    val got = rows(Multimodal.decode(media, "media")
      .select(col("doc_id"), col("decoded.width"), col("decoded.height"),
        col("decoded.channels"), col("decoded.mean_luma"), col("decoded.sharpness"))
      .orderBy("doc_id"))
    // row 1: true decode — exact dims, half-white luma ~0.5, one sharp edge
    assert(got(0)(1) == 24 && got(0)(2) == 16 && got(0)(3) == 3, got(0))
    val luma = got(0)(4).asInstanceOf[Double]
    assert(math.abs(luma - 0.5) < 0.05, s"mean_luma $luma not ~0.5")
    assert(got(0)(5).asInstanceOf[Double] > 0, "edge image has zero sharpness")
    // row 2: magic-byte sniff fails -> deterministic fake fallback
    assert(got(1) == rows(media.filter(col("doc_id") === 2)
      .select(col("doc_id"))).head ++
      Multimodal.FakeDecoder.decode("not an image".getBytes("UTF-8")).toSeq, got(1))
  }

  test("asofJoin picks the latest at-or-before right row per key") {
    val s2 = s
    import s2.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, t(10), 100L), (1L, t(20), 101L), (2L, t(5), 102L),
      (3L, t(30), 103L)).toDF("k", "ts", "lid")
    val right = Seq((1L, t(10), 1.0), (1L, t(15), 2.0), (2L, t(9), 3.0))
      .toDF("k", "ts", "price")
    val out = rows(graft.ops.AsOf.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("price")).select(col("lid"), col("price")).orderBy(col("lid")))
      .map(r => r.head -> r(1)).toMap
    // lid 100: right at exactly ts=10 matches (inclusive); 101: ts=15
    // wins over ts=10; 102: right is at 9 > 5? no — 9 AFTER 5 -> none;
    // 103: key 3 has no right rows
    assert(out == Map(100L -> 1.0, 101L -> 2.0, 102L -> null, 103L -> null), out)
    // tolerance: 101 matched a row 5s old; 3s tolerance voids it
    val tol = rows(graft.ops.AsOf.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("price"), toleranceMs = Some(3000L))
      .select(col("lid"), col("price")).orderBy(col("lid")))
      .map(r => r.head -> r(1)).toMap
    assert(tol == Map(100L -> 1.0, 101L -> null, 102L -> null, 103L -> null), tol)
  }

  test("video probe: flat-output parse contract, deterministic fallback, gated binary") {
    // the parse step is pure — the ffprobe -of flat format contract
    // holds with no binary installed
    val canned =
      """format.format_name="mov,mp4,m4a,3gp,3g2,mj2"
        |format.duration="12.480000"
        |format.nb_streams=2
        |streams.stream.0.codec_name="h264"
        |streams.stream.0.width=640
        |streams.stream.0.height=360
        |""".stripMargin
    val parsed = Multimodal.parseProbeOutput(canned).get
    assert(parsed.getString(0) == "mov,mp4,m4a,3gp,3g2,mj2", parsed)
    assert(parsed.getString(1) == "h264" && parsed.getInt(2) == 640 &&
      parsed.getInt(3) == 360, parsed)
    assert(parsed.getDouble(4) == 12480.0 && parsed.getInt(5) == 2, parsed)
    assert(parsed.getBoolean(6), parsed)
    // no format section -> None (not a media file)
    assert(Multimodal.parseProbeOutput("garbage\n").isEmpty)
    // partial facts stay null, never crash
    val partial = Multimodal.parseProbeOutput(
      "format.format_name=\"wav\"\nformat.duration=\"abc\"\n").get
    assert(partial.getString(0) == "wav" && partial.isNullAt(4), partial)

    // pipeline plumbing: absent binary -> deterministic fallback with
    // probed=false; payload-stable across calls
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(!missing.available)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val df = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, "fake mp4 payload".getBytes("UTF-8")),
      org.apache.spark.sql.Row(2L, null)).asJava, schema)
    val media = df.select(col("doc_id"),
      Multimodal.asMedia(col("payload"), "video/mp4", lit("mem://v")).as("media"))
    val got = rows(Multimodal.videoFeatures(media, "media", missing)
      .select(col("doc_id"), col("video.width"), col("video.duration_ms"),
        col("video.probed")).orderBy("doc_id"))
    val fake = Multimodal.FakeDecoder.decode("fake mp4 payload".getBytes("UTF-8"))
    assert(got(0)(1) == fake.get(0) &&
      got(0)(2) == fake.getDouble(3) * 60000.0 && got(0)(3) == false, got(0))
    assert(got(1)(1) == null && got(1)(3) == false, got(1))

    // real-binary path, exercised only where a system ffprobe exists
    val real = new Multimodal.ExternalVideoProber()
    if (real.available) {
      val probed = real.probe(Multimodal.synthPcmWav(800))
      assert(probed.getBoolean(6), probed)
      assert(probed.getString(0).contains("wav"), probed)
    }
  }

  test("cleanLines: C4 heuristics — min words, terminal punctuation") {
    val text = "Short line.\nThis is a proper sentence with words.\n" +
      "no terminal punctuation here at all\nBuy now!\n\n" +
      "Another good sentence is here."
    val df = docsDf(Seq((1L, text)))
    val strict = rows(df.select(
      Text.cleanLines(col("text"), 3, requireTerminal = true).as("c")))
      .head.head
    assert(strict == "This is a proper sentence with words.\n" +
      "Another good sentence is here.", strict.toString)
    val loose = rows(df.select(
      Text.cleanLines(col("text"), 3, requireTerminal = false).as("c")))
      .head.head
    assert(loose == "This is a proper sentence with words.\n" +
      "no terminal punctuation here at all\n" +
      "Another good sentence is here.", loose.toString)
    // single-line doc, empty doc: no crashes, deterministic output
    val edge = rows(docsDf(Seq((2L, "One tiny."), (3L, "")))
      .select(Text.cleanLines(col("text"), 3).as("c"))).map(_.head)
    assert(edge == Seq("", ""), edge.toString)
  }

  test("gopherSignals: bullet/ellipsis/dup-line/alpha/symbol fractions") {
    // 5 non-empty lines: 2 bullets (one duplicated), 1 ellipsis; 13
    // tokens, 10 with a Latin letter; one '#' and one '...'
    val doc = "\u2022 alpha beta\n\u2022 alpha beta\n" +
      "real prose line here\nmore...\n\n#tag 42"
    val g = rows(docsDf(Seq((1L, doc)))
      .select(Text.gopherSignals(col("text")).as("g")).select("g.*")).head
    assert(g == Seq(0.4, 0.2, 0.2, 0.206897, 0.769231, 0.153846), g)
    // empty and null text: all-zero signals, no crash
    val z = rows(docsDf(Seq((2L, ""), (3L, null)))
      .select(Text.gopherSignals(col("text")).as("g")).select("g.*"))
    assert(z.forall(_ == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)), z.toString)
  }

  test("normalizeUnicode: NFC composition, CRLF, control strip, codegen plan") {
    val df = docsDf(Seq(
      (1L, "Cafe\u0301 du monde"),        // decomposed -> precomposed
      (2L, "a\r\nb\rc"),                  // CRLF and lone CR -> LF
      (3L, "x\u0001y\u0007z\ttab\nkeep\u007f"), // controls out, \t\n kept
      (4L, "plain ascii stays identical")))
      .select(col("doc_id"), Text.normalizeUnicode(col("text")).as("n"))
    val got = rows(df).map(r => r.head -> r(1)).toMap
    assert(got(1L) == "Caf\u00e9 du monde", got(1L).toString)
    assert(got(2L) == "a\nb\nc", got(2L).toString)
    assert(got(3L) == "xyz\ttab\nkeep", got(3L).toString)
    assert(got(4L) == "plain ascii stays identical")
    // null passthrough
    val n = rows(docsDf(Seq((5L, null)))
      .select(Text.normalizeUnicode(col("text")).as("n"))).head.head
    assert(n == null)
    // the kernel stays inside whole-stage codegen (a local relation
    // pre-evaluates via the interpreted path, so drive a Range scan)
    val cg = spark.range(2).select(Text.normalizeUnicode(
      concat(lit("Cafe\u0301 "), col("id").cast("string"))).as("n"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // * = whole-stage codegen
    assert(rows(cg).map(_.head) == Seq("Caf\u00e9 0", "Caf\u00e9 1"))
  }

  test("MP4 probe: pure-JVM box parse, binary-less end-to-end, graceful truncation") {
    val b = Multimodal.synthMp4(12345, 640, 360)
    val r = Multimodal.Mp4Probe.parse(b).get
    assert(r.getString(0) == "isom" && r.getString(1) == "avc1", r)
    assert(r.getInt(2) == 640 && r.getInt(3) == 360, r)
    assert(r.getDouble(4) == 12345.0 && r.getInt(5) == 1 && r.getBoolean(6), r)
    // not BMFF at all -> None; null-safe
    assert(Multimodal.Mp4Probe.parse("not a video file".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.Mp4Probe.parse(null).isEmpty)
    // truncated after ftyp: container identified, every other fact
    // null — the walk stops at the first malformed size, never throws
    val trunc = Multimodal.Mp4Probe.parse(b.take(20)).get
    assert(trunc.getString(0) == "isom" && trunc.isNullAt(4), trunc)
    // end-to-end WITHOUT any external binary: MP4 payloads probe REAL
    // container facts (probed=true); non-BMFF falls to the fake path
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(!missing.available)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val df = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, Multimodal.synthMp4(1000, 320, 240)),
      org.apache.spark.sql.Row(2L, "plain bytes".getBytes("UTF-8"))).asJava,
      schema)
    val media = df.select(col("doc_id"),
      Multimodal.asMedia(col("payload"), "video/mp4", lit("mem://v")).as("media"))
    val got = rows(Multimodal.videoFeatures(media, "media", missing)
      .select(col("doc_id"), col("video.container"), col("video.codec"),
        col("video.width"), col("video.height"), col("video.duration_ms"),
        col("video.n_streams"), col("video.probed")).orderBy("doc_id"))
    assert(got(0) == Seq(1L, "isom", "avc1", 320, 240, 1000.0, 1, true), got(0))
    assert(got(1)(1) == null && got(1)(7) == false, got(1))

    // version-1 full boxes (64-bit times) and a largesize moov header
    // parse identically — hand-built since synthMp4 emits v0
    def be(ints: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(ints.size * 4)
      ints.foreach(bb.putInt); bb.array()
    }
    def bx(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val len = 8 + payload.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(len)
      bb.putInt(len).put(tpe.getBytes("US-ASCII"))
      payload.foreach(bb.put); bb.array()
    }
    val unity = be(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    val ftyp = bx("ftyp", "mp42".getBytes("US-ASCII"), be(0))
    // mvhd v1: ver=1, 8-byte creation/modification, timescale at +20,
    // 8-byte duration at +24 (ISO 14496-12 layout)
    val mvhdV1 = bx("mvhd", Array[Byte](1, 0, 0, 0), be(0, 0, 0, 0),
      be(600), be(0, 3000), be(0x10000), Array[Byte](0x01, 0x00, 0, 0),
      be(0, 0), unity, be(0, 0, 0, 0, 0, 0), be(2))
    // tkhd v1: 8-byte times, width/height at +88/+92
    // payload: times(16) trackid+rsvd(8) duration(8) rsvd(8)
    // layer/group/volume/rsvd(8) matrix(36) width/height at +88/+92
    val tkhdV1 = bx("tkhd", Array[Byte](1, 0, 0, 7), be(0, 0, 0, 0),
      be(1, 0), be(0, 3000), be(0, 0), be(0, 0), unity,
      be(1280 << 16, 720 << 16))
    val moovPayload = mvhdV1 ++ bx("trak", tkhdV1)
    // largesize header: size==1 + 64-bit size in the next 8 bytes
    val moovLarge = {
      val bb = java.nio.ByteBuffer.allocate(16 + moovPayload.length)
      bb.putInt(1).put("moov".getBytes("US-ASCII"))
        .putLong(16L + moovPayload.length).put(moovPayload)
      bb.array()
    }
    val v1 = Multimodal.Mp4Probe.parse(ftyp ++ moovLarge).get
    assert(v1.getString(0) == "mp42", v1)
    // duration 3000 at timescale 600 = 5000 ms
    assert(v1.getDouble(4) == 5000.0, v1)
    assert(v1.getInt(2) == 1280 && v1.getInt(3) == 720, v1)
    assert(v1.getInt(5) == 1 && v1.getBoolean(6), v1)

    // an ftyp-bearing payload with NO moov facts must fall through to
    // the external binary instead of short-circuiting on the fact-less
    // JVM row; "sh" IS on PATH but rejects the ffprobe arguments, so
    // the binary path fails and the partial JVM row comes back — the
    // same row a binary-less prober returns
    val shProber = new Multimodal.ExternalVideoProber("sh")
    assert(shProber.available)
    val factless = shProber.probe(ftyp)
    assert(factless.getString(0) == "mp42" && factless.isNullAt(4) &&
      factless.isNullAt(2), factless)
    // a fully-parsed payload never needs the binary: identical row to
    // the pure parse even with a broken "binary" configured
    assert(shProber.probe(b) == Multimodal.Mp4Probe.parse(b).get)
  }

  test("IVF-PQ: byte codes on disk, probed-cell ADC recall, guards") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // two tight clusters far apart in an 8-dim space + per-vector jitter
    val rows8 = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) += (i % 5) * 0.01f
      (i.toLong, base.toSeq)
    }
    val df = s.createDataFrame(rows8.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-").toString + "/idx"
    graft.ops.Similarity.buildIvfPqIndex(df, "embedding", "vec_id", dir,
      dims = 8, nlist = 2, m = 4, codeK = 8, seed = 5L)
    // stored codes are one tinyint per subspace — the 32x story
    val stored = s.read.parquet(dir)
    val codeType = stored.schema("__code").dataType
    assert(codeType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType), codeType)
    assert(rows(stored.select(org.apache.spark.sql.functions.size(
      col("__code")).as("n")).distinct()) == Seq(Seq(4)))
    // query at the positive cluster's heart: every hit is a positive-
    // cluster member even at nprobe=1 (the negative cell never reads)
    val hits = rows(graft.ops.Similarity.ivfPqTopK(s, dir, "vec_id",
      Seq.fill(8)(1.0f), k = 5, nprobe = 1)).map(_.head.asInstanceOf[Long])
    assert(hits.size == 5 && hits.forall(_ % 2 == 0), hits)
    // guards: wrong dims, not-a-pq-index, indivisible subspaces
    intercept[IllegalArgumentException](
      graft.ops.Similarity.ivfPqTopK(s, dir, "vec_id", Seq(1f, 2f), 3))
    intercept[IllegalArgumentException](
      graft.ops.Similarity.buildIvfPqIndex(df, "embedding", "vec_id",
        dir + "2", dims = 8, m = 3))
  }

  test("IVF-PQ append: stored-codebook encoding matches exact argmin") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame(Seq(
      org.apache.spark.sql.Row(1000001L, q.map(_ * 1.001f))).asJava, emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0 && col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("pqapp").toString
    try {
      Similarity.buildIvfPqIndex(pool, "embedding", "vec_id", dir, q.size,
        nlist = 16, m = 8)
      val extra = emb.filter(col("vec_id") >= 400).select(
        (col("vec_id") + 2000L).as("vec_id"), col("embedding"))
      // appendToIndex dispatches on the stored kind; frozen centroids
      Similarity.appendToIndex(planted.unionByName(extra), "embedding",
        "vec_id", dir, retrainAt = Double.MaxValue)
      // the appended near-copy of q lands in q's nearest coarse cell:
      // recalled even at nprobe=1
      val got = rows(Similarity.ivfPqTopK(spark, dir, "vec_id", q, 5,
        nprobe = 1)).map(_.head)
      assert(got.contains(1000001L), s"appended dup missing at nprobe=1: $got")
      // every appended row's (cell, codes) equals the exact driver-side
      // argmin through the STORED centroids and codebooks (first-index
      // tie-break) — proof the HOF encoder implements the math
      val metaText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_index_meta.json")), "UTF-8")
      val meta = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](metaText)
      def mat(o: Object): Seq[Array[Double]] =
        o.asInstanceOf[java.util.List[java.util.List[Object]]].asScala.toSeq
          .map(_.asScala.map(_.toString.toDouble).toArray)
      val cents = mat(meta.get("centroids"))
      val cbs = meta.get("codebooks").asInstanceOf[java.util.List[Object]]
        .asScala.toSeq.map(mat)
      val stored = spark.read.parquet(dir)
        .filter(col("vec_id") >= 2000L && col("vec_id") < 1000000L)
        .select(col("vec_id"), col("__c"), col("__code")).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getSeq[Byte](2).toSeq))).toMap
      val vecs = rows(extra).map(r =>
        r.head.asInstanceOf[Long] ->
          r(1).asInstanceOf[scala.collection.Seq[Float]].toSeq.map(_.toDouble))
      assert(vecs.nonEmpty && stored.size == vecs.size)
      def argmin(ds: Seq[Double]): Int = ds.indexOf(ds.min)
      val dsub = q.size / 8
      vecs.foreach { case (vid, v) =>
        val c = argmin(cents.toSeq.map(ct =>
          ct.toSeq.lazyZip(v).map((a, b) => (a - b) * (a - b)).sum))
        val res = v.lazyZip(cents(c).toSeq).map(_ - _)
        val codes = (0 until 8).map { j =>
          val sub = res.slice(j * dsub, (j + 1) * dsub)
          (argmin(cbs(j).toSeq.map(code =>
            sub.lazyZip(code.toSeq).map((x, cc) => (x - cc) * (x - cc)).sum))
            - 128).toByte
        }
        assert(stored(vid) == ((c, codes)),
          s"vec $vid stored ${stored(vid)}, exact ($c, $codes)")
      }
      // dimension mismatch fails loudly
      intercept[IllegalArgumentException] {
        val bad = spark.createDataFrame(Seq(
          org.apache.spark.sql.Row(9L, Seq(1f, 2f))).asJava, emb.schema)
        Similarity.appendToIndex(bad, "embedding", "vec_id", dir)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("IVF-PQ retrain trigger: skewed append reclusters, rerank recall recovers") {
    // same drift shape as the IVF retrain test: trained mass on axes
    // e0/e1, appended mass on e2 tilting alternately toward e0 or e1 —
    // frozen coarse centroids split the new cluster by tilt parity, so
    // an nprobe=1 probe sees only half of it; the append exceeds
    // retrainAt x trained mass, the index rebuilds from its stored
    // __v vectors, and the new cluster gets its own cell
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val trained = vdf(
      (0 until 100).map(i => (i.toLong, Seq(1f, 0.001f * i, 0f, 0f))) ++
      (0 until 100).map(i => (1000L + i, Seq(0.001f * i, 1f, 0f, 0f))))
    val batch = vdf((0 until 150).map { i =>
      val tilt = 0.35f
      (3000L + i, if (i % 2 == 0) Seq(tilt, 0f, 1f, 0f)
                  else Seq(0f, tilt, 1f, 0f))
    })
    val qc = Seq(0f, 0f, 1f, 0f)
    // both batch parities tie exactly on cosine to qc (dot 1.0, equal
    // norms), so brute-force top-10 is the 10 lowest batch ids — 5 of
    // each parity
    val brute = rows(Similarity.bruteForceTopK(trained.unionByName(batch),
      "embedding", "vec_id", qc, 10)).map(_.head.asInstanceOf[Long]).toSet
    assert(brute == (0 until 10).map(3000L + _).toSet, brute)
    // recall through the two-stage path: nprobe=1 candidates, exact
    // rerank over the probed cell's stored vectors (kCoarse covers the
    // whole cell, so the rerank is exact within the probed cell)
    def recall(dir: String): Double = {
      val got = rows(Similarity.ivfPqRerank(s, dir, "embedding", "vec_id",
        qc, 10, kCoarse = 300, nprobe = 1)).map(_.head.asInstanceOf[Long]).toSet
      got.intersect(brute).size / 10.0
    }
    val frozen = java.nio.file.Files.createTempDirectory("pqfroz").toString
    val auto = java.nio.file.Files.createTempDirectory("pqauto").toString
    try {
      for (d <- Seq(frozen, auto))
        Similarity.buildIvfPqIndex(trained, "embedding", "vec_id", d,
          dims = 4, nlist = 3, m = 2, codeK = 8)
      Similarity.appendToIndex(batch, "embedding", "vec_id", frozen,
        retrainAt = Double.MaxValue)
      // 150 appended > 0.5 x 200 trained -> auto-retrains inside append
      Similarity.appendToIndex(batch, "embedding", "vec_id", auto)
      val (rFrozen, rAuto) = (recall(frozen), recall(auto))
      // frozen: the probed cell holds exactly one tilt parity -> 0.5
      assert(rFrozen == 0.5, s"frozen nprobe=1 rerank recall $rFrozen != 0.5")
      assert(rAuto == 1.0, s"retrained nprobe=1 rerank recall $rAuto != 1.0")
      // retrain resets the drift baseline: full mass trained, no appends
      val meta = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(auto, "_graft_index_meta.json")), "UTF-8"))
      assert(meta.get("trainedCount").toString.toLong == 350L)
      assert(meta.get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .forall(_.toString.toLong == 0L))
      val fm = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(frozen, "_graft_index_meta.json")), "UTF-8"))
      assert(fm.get("appendedCounts")
        .asInstanceOf[java.util.List[Object]].asScala
        .map(_.toString.toLong).sum == 150L)
    } finally for (d <- Seq(frozen, auto))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
  }

  test("IVF-PQ rerank: exact cosine over ADC candidates, probes never read __v") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val planted = spark.createDataFrame((0 until 10).map(i =>
      org.apache.spark.sql.Row(1000000L + i, q.map(_ * 1.001f))).asJava,
      emb.schema)
    val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("pqrr").toString
    try {
      Similarity.buildIvfPqIndex(pool, "embedding", "vec_id", dir, q.size,
        nlist = 16, m = 8)
      val rr = Similarity.ivfPqRerank(spark, dir, "embedding", "vec_id",
        q, 10, kCoarse = 50, nprobe = 4)
      // the 10 planted exact-direction copies dominate the exact
      // ranking; sim is TRUE cosine (~1.0), not the ADC approximation
      val got = rows(rr)
      assert(got.map(_.head).toSet ==
        (0 until 10).map(1000000L + _).toSet, got)
      assert(got.forall(_(1).asInstanceOf[Double] > 0.999), got)
      // the approximate probe projects only id/codes/cell: __v must be
      // pruned from the ivfPqTopK scan (the in-RAM ADC story)
      val probePlan = Similarity.ivfPqTopK(spark, dir, "vec_id", q, 10)
        .queryExecution.executedPlan.toString
      assert(!probePlan.contains("__v"), probePlan)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("recallAtK: full probe = 1.0, starved probe = exact deficit, kind dispatch") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // two tight 20-member clusters at opposite corners of an 8-dim
    // space (tiny deterministic jitter keeps vectors distinct)
    val rows8 = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array.fill(8)(1.0f) else Array.fill(8)(-1.0f)
      base(i % 8) += (i % 5) * 0.01f
      (i.toLong, base.toSeq)
    }
    val corpus = s.createDataFrame(rows8.map(r =>
      org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    val base = java.nio.file.Files.createTempDirectory("graft-recall-").toString
    graft.ops.Similarity.buildIvfIndex(corpus, "embedding", "vec_id",
      base + "/ivf", dims = 8, nlist = 2)
    // probing every cell reproduces brute force exactly
    val full = rows(graft.ops.Similarity.recallAtK(s, base + "/ivf", corpus,
      "embedding", "vec_id", k = 10, nQueries = 6, nprobe = 2))
    assert(full.size == 6 && full.forall(_(1) == 1.0), full)
    // k larger than the query's own cell + nprobe=1: the missing 5
    // cross-cluster neighbors are an exact, deterministic deficit
    val starved = rows(graft.ops.Similarity.recallAtK(s, base + "/ivf", corpus,
      "embedding", "vec_id", k = 25, nQueries = 6, nprobe = 1))
    assert(starved.size == 6 && starved.forall(_(1) == 20.0 / 25.0), starved)
    // IVF-PQ dispatch: whole-own-cluster k at full probe is exact even
    // through quantized distances (cross-cluster ADC gaps are huge)
    graft.ops.Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id",
      base + "/pq", dims = 8, nlist = 2, m = 4, codeK = 8)
    val pq = rows(graft.ops.Similarity.recallAtK(s, base + "/pq", corpus,
      "embedding", "vec_id", k = 20, nQueries = 4, nprobe = 2))
    assert(pq.size == 4 && pq.forall(_(1) == 1.0), pq)
    // LSH dispatch honors ITS probe knob (probeLevel; nprobe is the
    // ivf/ivfpq knob): multi-probe recall can only improve on the
    // bare-bands level, and the full multi-probe is exact here
    graft.ops.Similarity.buildIndex(corpus, "embedding", "vec_id",
      base + "/lsh", dims = 8, buckets = 16)
    def lshRecall(pl: Int) = rows(graft.ops.Similarity.recallAtK(s,
      base + "/lsh", corpus, "embedding", "vec_id", k = 5, nQueries = 4,
      probeLevel = pl)).map(_(1).asInstanceOf[Double])
    val (r0, r1) = (lshRecall(0), lshRecall(1))
    assert(r0.zip(r1).forall { case (a, b) => b >= a }, s"$r0 vs $r1")
    assert(r1.forall(_ == 1.0), r1)
    // SEMANTIC arm: within-probed-cluster recall through the index's
    // IVF-shaped layout (stored normalized vectors; cosine is
    // normalization-invariant, so full probe = brute force and the
    // single-cluster probe shows the exact dedup-miss deficit)
    graft.ops.Similarity.buildSemanticIndex(corpus, "embedding", "vec_id",
      base + "/sem", k = 2)
    // k = whole own cluster: the rank-20 cut sits on the huge
    // cross-cluster margin, so the probe's normalized-vector cosine
    // cannot tie-flip against the raw-vector brute force at the cut
    val semFull = rows(graft.ops.Similarity.recallAtK(s, base + "/sem",
      corpus, "embedding", "vec_id", k = 20, nQueries = 4, nprobe = 2))
    assert(semFull.size == 4 && semFull.forall(_(1) == 1.0), semFull)
    val semOwn = rows(graft.ops.Similarity.recallAtK(s, base + "/sem",
      corpus, "embedding", "vec_id", k = 25, nQueries = 4, nprobe = 1))
    assert(semOwn.size == 4 && semOwn.forall(_(1) == 20.0 / 25.0), semOwn)
    // a truly unknown kind still refuses loudly instead of falling
    // through to the LSH prober and dying on a missing meta key
    val bogus = base + "/bogus"
    corpus.write.mode("overwrite").parquet(bogus)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bogus, "_graft_index_meta.json"),
      """{"kind": "mystery", "dims": 8}""".getBytes)
    val e = intercept[IllegalArgumentException](
      graft.ops.Similarity.recallAtK(s, bogus, corpus,
        "embedding", "vec_id", k = 5))
    assert(e.getMessage.contains("lsh/ivf/ivfpq/semantic") &&
      e.getMessage.contains("mystery"), e.getMessage)
    // meta text written by earlier builds still opens, probes and
    // appends: a pre-kind LSH meta (no "kind"), an IVF meta from before
    // drift tallies, and a centroid value snakeyaml types as a String
    // (1.23E7: no signed exponent)
    def writeMeta(dir: String, text: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_graft_index_meta.json"), text.getBytes)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._graft_index_meta.json.crc"))
    }
    val extra = s.createDataFrame(Seq(org.apache.spark.sql.Row(900L,
      Seq.fill(8)(1.0f))).asJava, schema)
    def ids(dir: String) = s.read.parquet(dir).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    writeMeta(base + "/lsh",
      """{"dims": 8, "numPlanes": 64, "bandBits": 16, "buckets": 16, "seed": 42}""")
    assert(lshRecall(1).forall(_ == 1.0))
    graft.ops.Similarity.appendToIndex(extra, "embedding", "vec_id", base + "/lsh")
    assert(ids(base + "/lsh").contains(900L))
    val cents = graft.ops.IndexDir.readAs[graft.ops.IndexDir.IvfMeta](s,
      base + "/ivf", "ivf").centroids
    def ivfMeta(cs: Seq[Seq[Any]]) = """{"kind": "ivf", "dims": 8, "nlist": 2, """ +
      s""""seed": 42, "centroids": ${cs.map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")}}"""
    writeMeta(base + "/ivf", ivfMeta(cents.map(_.toSeq)))
    val pre = rows(graft.ops.Similarity.recallAtK(s, base + "/ivf", corpus,
      "embedding", "vec_id", k = 10, nQueries = 6, nprobe = 2))
    assert(pre.forall(_(1) == 1.0), pre)
    graft.ops.Similarity.appendToIndex(extra, "embedding", "vec_id", base + "/ivf")
    val tallied = graft.ops.IndexDir.readAs[graft.ops.IndexDir.IvfMeta](s,
      base + "/ivf", "ivf")
    // no trained baseline: the append is tallied but never retrains
    assert(tallied.trainedCount == 0L && tallied.appendedCounts.sum == 1L)
    assert(ids(base + "/ivf").contains(900L))
    // the far value goes into the (-1)-cluster's centroid, so the
    // (+1)-cluster cell keeps drawing the all-ones vectors
    val far = if (cents(0).sum > 0) 1 else 0
    writeMeta(base + "/ivf", ivfMeta(cents.indices.map(i =>
      if (i == far) "1.23E7" +: cents(i).toSeq.tail else cents(i).toSeq)))
    assert(graft.ops.IndexDir.readAs[graft.ops.IndexDir.IvfMeta](s,
      base + "/ivf", "ivf").centroids(far)(0) == 1.23e7)
    graft.ops.Similarity.appendToIndex(extra.select((col("vec_id") + 1)
      .as("vec_id"), col("embedding")), "embedding", "vec_id", base + "/ivf")
    // both appended rows sit in the one probed cell
    val hits = rows(graft.ops.Similarity.ivfTopK(s, base + "/ivf", "embedding",
      "vec_id", Seq.fill(8)(1.0f), 25, nprobe = 1)).map(_.head).toSet
    assert(hits(900L) && hits(901L), hits)
  }

  test("Diff: added/removed/changed verdicts; null-shape changes detected") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType)))
    def df(rows: Seq[(Long, String, String)]) = s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    val before = df(Seq((1L, "x", "y"), (2L, "keep", "keep"),
      (3L, "gone", "gone"), (4L, null, "v"), (5L, "n", null)))
    val after = df(Seq((1L, "x", "CHANGED"), (2L, "keep", "keep"),
      (6L, "new", "row"),
      // the null slides from a to b — same multiset of values, and a
      // naive multi-arg hash (which skips nulls) would call it equal
      (4L, "v", null), (5L, "n", null)))
    val got = rows(graft.ops.Diff.diff(before, after, Seq("id")).orderBy("id"))
      .map(r => (r(0), r(1)))
    assert(got == Seq((1L, "changed"), (3L, "removed"), (4L, "changed"),
      (6L, "added")), got)
    val sum = rows(graft.ops.Diff.diffSummary(before, after, Seq("id"))
      .orderBy("change")).map(r => (r(0), r(1)))
    assert(sum == Seq(("added", 1L), ("changed", 2L), ("removed", 1L)), sum)
    // column order must not matter: permuted after-frame, same verdict
    val permuted = after.select(col("b"), col("id"), col("a"))
    val got2 = rows(graft.ops.Diff.diff(before, permuted, Seq("id"))
      .orderBy("id")).map(r => (r(0), r(1)))
    assert(got2 == got, got2)
    // duplicate keys compare as multisets — no join fan-out: a key
    // whose duplicate COUNT changed reads changed exactly once, equal
    // multisets (any row order) read unchanged
    val dupB = df(Seq((7L, "x", "y"), (7L, "x", "y"), (8L, "p", "q"),
      (8L, "r", "s")))
    val dupA = df(Seq((7L, "x", "y"), (8L, "r", "s"), (8L, "p", "q")))
    val dup = rows(graft.ops.Diff.diff(dupB, dupA, Seq("id")).orderBy("id"))
      .map(r => (r(0), r(1)))
    assert(dup == Seq((7L, "changed")), dup)
  }

  test("Diff: maps compare order-independently; side-only columns always differ") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("m", MapType(StringType, LongType))))
    def mdf(rows: Seq[(Long, Map[String, Long])]) = s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
    // same logical maps built in opposite entry orders: must read equal
    val before = mdf(Seq((1L, Map("a" -> 1L, "b" -> 2L)),
      (2L, Map("x" -> 9L)), (3L, null)))
    val after = mdf(Seq((1L, Map("b" -> 2L, "a" -> 1L)),
      (2L, Map("x" -> 8L)), (3L, null)))
    val got = rows(graft.ops.Diff.diff(before, after, Seq("id")))
      .map(r => (r(0), r(1)))
    assert(got == Seq((2L, "changed")), got)
    // the JSON canonicalization must pin ignoreNullFields itself, not
    // inherit the session conf (under the ignoring default, all-null
    // rows in side-only columns would hash equal)
    val conf = "spark.sql.jsonGenerator.ignoreNullFields"
    val old = s.conf.get(conf)
    s.conf.set(conf, "true")
    try {
      // after gains column `extra`, all-null: a schema migration — the
      // documented semantics count it as a change for EVERY row
      val wide = after.withColumn("extra",
        org.apache.spark.sql.functions.lit(null).cast("string"))
      val mig = rows(graft.ops.Diff.diff(before, wide, Seq("id"))
        .orderBy("id")).map(r => (r(0), r(1)))
      assert(mig == Seq((1L, "changed"), (2L, "changed"), (3L, "changed")),
        mig)
    } finally s.conf.set(conf, old)
  }

  test("semanticDedup: within-cluster pairs only; k-means auto path recovers dups") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.IntegerType)))
    def df(rows: Seq[(Long, Seq[Float], Int)]) = s.createDataFrame(rows.map(r =>
      org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
    // two orthogonal directions; a near-copy in each; one planted
    // IDENTICAL pair deliberately SPLIT across clusters (5 vs 6)
    val pool = df(Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.999f, 0.02f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1), (4L, Seq(0.02f, 0.999f, 0f, 0f), 1),
      (5L, Seq(0f, 0f, 1f, 0f), 0), (6L, Seq(0f, 0f, 1f, 0f), 1)))
    val pairs = rows(Similarity.semanticPairs(pool, "embedding", "vec_id",
      "grp", threshold = 0.9).select(col("idA"), col("idB")).orderBy("idA"))
    // near-copies pair within their cluster; the split identical pair
    // (5,6) is MISSED — the documented SemDeDup trade-off
    assert(pairs.map(p => (p(0), p(1))) == Seq((1L, 2L), (3L, 4L)), pairs)
    // null clusters never pair (SQL-join semantics), even identical
    // vectors
    val withNulls = pool.withColumn("grp",
      when(col("vec_id") >= 5, lit(null)).otherwise(col("grp")))
    val np = rows(Similarity.semanticPairs(withNulls, "embedding", "vec_id",
      "grp", threshold = 0.9).select(col("idA"), col("idB")).orderBy("idA"))
    assert(np.map(p => (p(0), p(1))) == Seq((1L, 2L), (3L, 4L)), np)
    val kept = rows(Similarity.semanticDedup(pool, "embedding", "vec_id",
      "grp", threshold = 0.9).select(col("vec_id"))).map(_.head).toSet
    assert(kept == Set(1L, 3L, 5L, 6L), kept)
    // auto path: seed-fixed k-means (k=3, normalized) puts identical
    // vectors in ONE cluster, so the split pair now dedupes too
    val auto = Similarity.semanticDedupAuto(pool.drop("grp"), "embedding",
      "vec_id", threshold = 0.9, k = 3, seed = 7L)
    assert(auto.columns.toSeq == Seq("vec_id", "embedding"), auto.columns.toSeq)
    val autoKept = rows(auto.select(col("vec_id"))).map(_.head).toSet
    assert(autoKept == Set(1L, 3L, 5L), autoKept)
  }

  test("normalizeUrl: case/port/www/fragment/tracking/param-order canonicalization") {
    def norm(u: String): String =
      rows(docsDf(Seq((1L, u))).select(Text.normalizeUrl(col("text")).as("n")))
        .head.head.asInstanceOf[String]
    // the full gauntlet collapses to one canonical form
    assert(norm("HTTPS://WWW.Site.com:443/p/1/?utm_source=x&b=2&a=1#top")
      == "https://site.com/p/1?a=1&b=2")
    assert(norm("https://site.com/p/1?a=1&b=2") == "https://site.com/p/1?a=1&b=2")
    // scheme-less input assumes http; http default port strips
    assert(norm("site.com/p/1") == "http://site.com/p/1")
    assert(norm("http://site.com:80/") == "http://site.com/")
    // non-default port survives; unknown scheme's port survives
    assert(norm("http://site.com:8080/x") == "http://site.com:8080/x")
    assert(norm("ftp://site.com:443/x") == "ftp://site.com:443/x")
    // empty path -> /; root path keeps its slash; deep trailing drops
    assert(norm("https://site.com") == "https://site.com/")
    assert(norm("https://site.com/a/b/") == "https://site.com/a/b")
    // every tracking param family drops; non-tracking 'ref'-like keys
    // that merely PREFIX a tracking name survive
    assert(norm("http://s.co/?fbclid=1&gclid=2&msclkid=3&mc_cid=4&mc_eid=5&utm_x=6")
      == "http://s.co/")
    assert(norm("http://s.co/?fbclid2=keep") == "http://s.co/?fbclid2=keep")
    // param sort is deterministic; duplicate keys both survive, sorted
    assert(norm("http://s.co/?z=1&a=2&z=0") == "http://s.co/?a=2&z=0&z=1")
    // NULL in, NULL out
    val n = rows(docsDf(Seq((1L, null))).select(Text.normalizeUrl(col("text")).as("n")))
    assert(n.head.head == null, n)
  }

  test("decontaminateTrim removes only quoted spans; eval subset trims to empty") {
    val bench = docsDf(Seq(
      (100L, "the secret eval answer is forty two exactly"))).select(col("text"))
    val corpus = docsDf(Seq(
      // quotes the eval item in the middle of clean text
      (1L, "clean prefix words here the secret eval answer is forty two exactly and a clean suffix tail"),
      (2L, "totally unrelated document with no overlap whatsoever in it"),
      // IS the eval item (plus nothing else): trims to empty
      (3L, "the secret eval answer is forty two exactly")))
    val got = rows(Text.decontaminateTrim(corpus, "doc_id", "text",
      bench, "text", n = 5).orderBy("doc_id")).map(r => (r(0), r(1)))
    // doc 1: every token inside any matching 5-gram goes; the clean
    // prefix/suffix outside all matching grams survives
    assert(got(0)._1 == 1L &&
      got(0)._2 == "clean prefix words here and a clean suffix tail", got(0))
    assert(got(1) == (2L, "totally unrelated document with no overlap whatsoever in it"))
    assert(got(2) == (3L, ""), got(2))
  }

  test("decontaminateBloom matches exact decontaminate (fp killed by verify join)") {
    val bench = docsDf(Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely unrelated benchmark prompt about chess endgames")))
      .select(col("text"))
    val corpus = docsDf(Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog today and more"),
      (2L, "no overlap with anything in the eval suite at all here"),
      (3L, "completely unrelated benchmark prompt about chess endgames repeated twice")))
    val exact = rows(Text.decontaminate(corpus, "doc_id", "text", bench, "text", n = 5)
      .orderBy("doc_id"))
    // a tiny bloom at high fpp maximizes false positives — the verify
    // join must still reduce to the exact answer
    val bloom = rows(Text.decontaminateBloom(corpus, "doc_id", "text", bench, "text",
      n = 5, fpp = 0.5).orderBy("doc_id"))
    assert(bloom == exact, s"bloom=$bloom exact=$exact")
    assert(exact.map(_.head).toSet == Set(1L, 3L), exact)
  }

  test("EBML probe: pure-JVM WebM/MKV parse, unknown-size segments, truncation") {
    val b = Multimodal.synthWebm(12345, 640, 360)
    val r = Multimodal.EbmlProbe.parse(b).get
    assert(r.getString(0) == "webm" && r.getString(1) == "V_VP9", r)
    assert(r.getInt(2) == 640 && r.getInt(3) == 360, r)
    assert(r.getDouble(4) == 12345.0 && r.getInt(5) == 1 && r.getBoolean(6), r)
    // not EBML at all -> None; null-safe
    assert(Multimodal.EbmlProbe.parse("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.EbmlProbe.parse(null).isEmpty)
    assert(Multimodal.Mp4Probe.parse(b).isEmpty) // families don't cross-match
    assert(Multimodal.EbmlProbe.parse(Multimodal.synthMp4(1000, 320, 240)).isEmpty)

    // unknown-size Segment (all-ones size VINT — the streamed-file
    // layout): payload extends to the end of the buffer and parses
    // identically. Find the Segment's 2-byte size VINT and patch it.
    val segIdx = {
      var i = 0
      while (!(b(i) == 0x18.toByte && b(i + 1) == 0x53.toByte &&
        b(i + 2) == 0x80.toByte && b(i + 3) == 0x67.toByte)) i += 1
      i
    }
    val streamed = b.clone()
    streamed(segIdx + 4) = 0x7F.toByte // 2-byte VINT, all data bits set
    streamed(segIdx + 5) = 0xFF.toByte
    val sr = Multimodal.EbmlProbe.parse(streamed).get
    assert(sr == r, sr)

    // truncated mid-Tracks: container + duration survive (the walk
    // surfaces the readable prefix of a torn element, never throws)
    val trunc = Multimodal.EbmlProbe.parse(b.take(b.length - 12)).get
    assert(trunc.getString(0) == "webm" && trunc.getDouble(4) == 12345.0, trunc)
    // truncated right after the EBML header: container only, every
    // fact null -> the prober treats it as fact-less. A cut INSIDE
    // the DocType string (take(12)) must not surface a garbage
    // prefix ("we"): torn leaves are dropped, so no container -> None
    assert(Multimodal.EbmlProbe.parse(b.take(12)).isEmpty)
    val headOnly = Multimodal.EbmlProbe.parse(b.take(14)).get
    assert(headOnly.getString(0) == "webm" && headOnly.isNullAt(4) &&
      headOnly.isNullAt(2), headOnly)

    // end-to-end through the prober WITHOUT any external binary:
    // WebM payloads probe REAL container facts (probed=true)
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(missing.probe(b) == r)
    // fact-less EBML head falls through to the binary like fact-less
    // ftyp does; with none available the partial JVM row comes back
    assert(missing.probe(b.take(14)) == headOnly)
  }

  test("RIFF probe: pure-JVM AVI parse, truncation, prober dispatch") {
    val b = Multimodal.synthAvi(4500, 320, 240)
    val r = Multimodal.RiffProbe.parse(b).get
    assert(r.getString(0) == "avi" && r.getString(1) == "MJPG", r)
    assert(r.getInt(2) == 320 && r.getInt(3) == 240, r)
    // 4500 frames at 1000 us/frame = 4500 ms exactly
    assert(r.getDouble(4) == 4500.0 && r.getInt(5) == 1 && r.getBoolean(6), r)
    // not RIFF -> None; null-safe; families don't cross-match
    assert(Multimodal.RiffProbe.parse("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.RiffProbe.parse(null).isEmpty)
    assert(Multimodal.RiffProbe.parse(Multimodal.synthWebm(1, 2, 2)).isEmpty)
    assert(Multimodal.EbmlProbe.parse(b).isEmpty)
    assert(Multimodal.Mp4Probe.parse(b).isEmpty)
    // truncated mid-strh (fccHandler torn away): the avih facts
    // already read survive, the codec stays null — the walk never
    // throws (strh body is 56 bytes; dropping 60 leaves only its
    // fccType readable, below the 8-byte guard)
    val trunc = Multimodal.RiffProbe.parse(b.take(b.length - 60)).get
    assert(trunc.getString(0) == "avi" && trunc.getDouble(4) == 4500.0 &&
      trunc.getInt(2) == 320 && trunc.isNullAt(1), trunc)
    // end-to-end through the prober WITHOUT any external binary: AVI
    // payloads probe REAL container facts (probed=true)
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(missing.probe(b) == r)
  }

  test("Ogg probe: pure-JVM page walk, Theora/Vorbis idents, truncation, dispatch") {
    val b = Multimodal.synthOgg(frames = 250, fpsN = 25, w = 320, h = 176)
    val r = Multimodal.OggProbe.parse(b).get
    assert(r.getString(0) == "ogg" && r.getString(1) == "theora", r)
    assert(r.getInt(2) == 320 && r.getInt(3) == 176, r)
    // 250 frames at 25 fps = 10000 ms exactly
    assert(r.getDouble(4) == 10000.0, r)
    assert(r.getInt(5) == 2 && r.getBoolean(6), r) // theora + vorbis streams
    // not Ogg -> None; null-safe; families don't cross-match
    assert(Multimodal.OggProbe.parse("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.OggProbe.parse(null).isEmpty)
    assert(Multimodal.OggProbe.parse(Multimodal.synthAvi(1, 2, 2)).isEmpty)
    assert(Multimodal.RiffProbe.parse(b).isEmpty)
    assert(Multimodal.Mp4Probe.parse(b).isEmpty)
    // vorbis-only stream: codec falls to the audio ident, duration
    // from the sample-count granule (22050 samples at 44100 Hz)
    val audio = {
      val full = Multimodal.synthOgg(1, 1, 16, 16)
      // keep only the vorbis BOS page (second page: offset = first
      // page length; every synth page is 28 + packet bytes)
      val p0 = 28 + 42 // theora BOS page length
      val p1 = 28 + 29 // vorbis BOS page length
      val vb = full.slice(p0, p0 + p1)
      // append a vorbis data page carrying the closing granule
      val tail = full.drop(p0 + p1) // theora EOS page, serial 1
      tail(14) = 2 // rewrite serial to the vorbis stream
      val g = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(22050L).array()
      System.arraycopy(g, 0, tail, 6, 8)
      vb ++ tail
    }
    val ra = Multimodal.OggProbe.parse(audio).get
    assert(ra.getString(1) == "vorbis" && ra.isNullAt(2), ra)
    assert(ra.getDouble(4) == 500.0 && ra.getInt(5) == 1, ra)
    // truncated mid-lacing: the walk stops with the facts so far
    val trunc = Multimodal.OggProbe.parse(b.take(30)).get
    assert(trunc.getString(0) == "ogg" && trunc.isNullAt(4), trunc)
    // end-to-end through the prober WITHOUT any external binary
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(missing.probe(b) == r)
  }

  test("MPEG-TS probe: PAT->PMT walk, PCR-span duration, truncation, dispatch") {
    val b = Multimodal.synthTs(durationMs = 12000)
    val r = Multimodal.TsProbe.parse(b).get
    assert(r.getString(0) == "mpegts" && r.getString(1) == "h264", r)
    assert(r.isNullAt(2) && r.isNullAt(3), r) // TS carries no dims
    assert(r.getDouble(4) == 12000.0, r)      // exact PCR-span ms
    assert(r.getInt(5) == 2 && r.getBoolean(6), r) // h264 + aac entries
    // not TS -> None; null-safe; families don't cross-match
    assert(Multimodal.TsProbe.parse("x" * 400 getBytes "UTF-8").isEmpty)
    assert(Multimodal.TsProbe.parse(null).isEmpty)
    assert(Multimodal.TsProbe.parse(Multimodal.synthOgg(1, 1, 2, 2)).isEmpty)
    assert(Multimodal.OggProbe.parse(b).isEmpty)
    assert(Multimodal.Mp4Probe.parse(b).isEmpty)
    // truncated after the first PCR packet: the stream table facts
    // survive, duration needs two PCRs -> null
    val trunc = Multimodal.TsProbe.parse(b.take(188 * 3)).get
    assert(trunc.getString(1) == "h264" && trunc.getInt(5) == 2 &&
      trunc.isNullAt(4), trunc)
    // end-to-end through the prober WITHOUT any external binary
    val missing = new Multimodal.ExternalVideoProber("graft-no-such-binary")
    assert(missing.probe(b) == r)
  }

  test("MPEG-TS dims: H.264 SPS + MPEG-2 sequence header from the video PES") {
    // h264, multiple-of-16 dims (no cropping window)
    val a = Multimodal.TsProbe.parse(
      Multimodal.synthTs(5000, "h264", 640, 480)).get
    assert(a.getString(1) == "h264" && a.getInt(2) == 640 &&
      a.getInt(3) == 480 && a.getDouble(4) == 5000.0, a)
    // h264 with cropping on both axes (1918x1080 rounds to 120x68 MBs)
    val c = Multimodal.TsProbe.parse(
      Multimodal.synthTs(1000, "h264", 1918, 1080)).get
    assert(c.getInt(2) == 1918 && c.getInt(3) == 1080, c)
    // mpeg2 sequence header: packed 12-bit dims, PMT type 0x02
    val m = Multimodal.TsProbe.parse(
      Multimodal.synthTs(2000, "mpeg2video", 720, 576)).get
    assert(m.getString(1) == "mpeg2video" && m.getInt(2) == 720 &&
      m.getInt(3) == 576, m)
    // hevc SPS: PMT type 0x24, conformance-window crop on every synth
    val hv = Multimodal.TsProbe.parse(
      Multimodal.synthTs(3000, "hevc", 1919, 817)).get
    assert(hv.getString(1) == "hevc" && hv.getInt(2) == 1919 &&
      hv.getInt(3) == 817 && hv.getDouble(4) == 3000.0, hv)
    // hevc round-trip sweep (odd dims legal: luma sizes are free)
    for (w <- Seq(2, 637, 1280, 4095); hh <- Seq(3, 720, 2161))
      assert(Multimodal.H265Sps.findAndParse(
        Multimodal.hevcSpsNal(w, hh)).contains((w, hh)), s"${w}x$hh")
    // malformed/truncated hevc SPS -> None, never a throw
    assert(Multimodal.H265Sps.findAndParse(
      Multimodal.hevcSpsNal(640, 480).take(9)).isEmpty)
    // mpeg4 part-2 VOL: 13-bit dims, PMT type 0x10
    val m4 = Multimodal.TsProbe.parse(
      Multimodal.synthTs(4000, "mpeg4video", 352, 288)).get
    assert(m4.getString(1) == "mpeg4video" && m4.getInt(2) == 352 &&
      m4.getInt(3) == 288, m4)
    // hand-built VOL exercising every conditional prefix branch the
    // synth skips: object-layer identifier, extended PAR, vol_control
    // with the 79-bit VBV block, fixed VOP rate (6-bit increment for
    // a 60 Hz time base)
    val vb = scala.collection.mutable.ArrayBuffer.empty[Int]
    def uv(v: Int, n: Int): Unit = {
      var i = n - 1; while (i >= 0) { vb += ((v >> i) & 1); i -= 1 }
    }
    uv(0, 1); uv(1, 8)
    uv(1, 1); uv(1, 4); uv(0, 3)   // identifier: verid 1, priority 0
    uv(0xF, 4); uv(4, 8); uv(3, 8) // extended PAR 4:3
    uv(1, 1)                       // vol_control_parameters
    uv(1, 2); uv(0, 1)             // chroma 4:2:0, not low delay
    uv(1, 1)                       // vbv_parameters
    for (_ <- 0 until 79) uv(1, 1) // the vbv block (markers included)
    uv(0, 2)                       // rectangular
    uv(1, 1); uv(60, 16); uv(1, 1) // 60 Hz
    uv(1, 1); uv(33, 6)            // fixed VOP rate, 6-bit increment
    uv(1, 1); uv(1920, 13); uv(1, 1); uv(1080, 13); uv(1, 1)
    while (vb.size % 8 != 0) uv(1, 1)
    val volNal = Array[Byte](0, 0, 1, 0x25) ++ vb.grouped(8)
      .map(_.foldLeft(0)((x, bit) => (x << 1) | bit).toByte).toArray
    assert(Multimodal.Mpeg4Vol.findAndParse(volNal).contains((1920, 1080)))
    // non-rectangular shape -> None (binary shape = 01): flip the
    // shape bits, which sit right after the vbv block
    val vb2 = vb.clone()
    val shapeIdx = 1 + 8 + 1 + 4 + 3 + 4 + 8 + 8 + 1 + 2 + 1 + 1 + 79
    vb2(shapeIdx) = 0; vb2(shapeIdx + 1) = 1
    val volBad = Array[Byte](0, 0, 1, 0x25) ++ vb2.grouped(8)
      .map(_.foldLeft(0)((x, bit) => (x << 1) | bit).toByte).toArray
    assert(Multimodal.Mpeg4Vol.findAndParse(volBad).isEmpty)

    // a PES split across TWO TS packets (the real-stream shape: the
    // SPS rarely fits the first 184-byte payload): fragment A rides a
    // unit-start packet padded via adaptation-field stuffing, fragment
    // B a continuation packet — the ES accumulation must splice them
    def tsPkt(pid: Int, pusi: Boolean, cc: Int, payload: Array[Byte]): Array[Byte] = {
      require(payload.length <= 184)
      val p = new Array[Byte](188)
      p(0) = 0x47
      p(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xFF).toByte
      p(2) = (pid & 0xFF).toByte
      val stuff = 184 - payload.length
      if (stuff == 0) p(3) = (0x10 | cc).toByte
      else {
        p(3) = (0x30 | cc).toByte       // adaptation field + payload
        p(4) = (stuff - 1).toByte       // AF length fills the gap
        if (stuff > 1) {
          p(5) = 0x00                   // no AF flags
          java.util.Arrays.fill(p, 6, 4 + stuff, 0xFF.toByte)
        }
      }
      System.arraycopy(payload, 0, p, 4 + stuff, payload.length)
      p
    }
    val pes = Array[Byte](0, 0, 1, 0xE0.toByte, 0, 0, 0x80.toByte, 0, 0) ++
      Multimodal.spsNal(640, 480)
    val split = Multimodal.TsProbe.parse(
      Multimodal.synthTs(1000) ++                     // PAT+PMT+PCRs, no PES
      tsPkt(0x101, pusi = true, 0, pes.take(12)) ++   // header + SPS start
      tsPkt(0x101, pusi = false, 1, pes.drop(12))).get
    assert(split.getInt(2) == 640 && split.getInt(3) == 480, split)

    // hand-built hevc SPS: TWO sub-layers with split present flags
    // (alignment + per-layer PTL blocks) and 4:2:2 chroma, whose crop
    // units differ per axis (SubWidthC 2, SubHeightC 1)
    val b2 = scala.collection.mutable.ArrayBuffer.empty[Int]
    def u2(v: Int, n: Int): Unit = {
      var i = n - 1; while (i >= 0) { b2 += ((v >> i) & 1); i -= 1 }
    }
    def ue2(v: Int): Unit = {
      val k = v + 1; val n = 32 - Integer.numberOfLeadingZeros(k)
      u2(0, n - 1); u2(k, n)
    }
    u2(0, 4); u2(2, 3); u2(1, 1)      // vps id, max_sub_layers_minus1=2
    u2(0x21, 8); u2(0, 80); u2(93, 8) // general PTL
    u2(1, 1); u2(0, 1)                // layer 0: profile yes, level no
    u2(0, 1); u2(1, 1)                // layer 1: profile no, level yes
    u2(0, 12)                         // reserved_zero_2bits x (8-2)
    u2(0, 88)                         // layer-0 profile block
    u2(90, 8)                         // layer-1 level_idc
    ue2(0)                            // sps id
    ue2(2)                            // chroma 4:2:2
    ue2(1280 + 4); ue2(720 + 3)       // coded luma sizes
    u2(1, 1); ue2(1); ue2(1); ue2(1); ue2(2) // crop l/r/t/b
    u2(1, 1)                          // stop bit
    while (b2.size % 8 != 0) u2(0, 1)
    val raw2 = b2.grouped(8)
      .map(_.foldLeft(0)((x, bit) => (x << 1) | bit).toByte).toArray
    val esc2 = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros2 = 0
    for (x <- raw2) { // same emulation-prevention discipline as the synth
      if (zeros2 >= 2 && (x & 0xFF) <= 3) { esc2 += 3; zeros2 = 0 }
      esc2 += x; zeros2 = if (x == 0) zeros2 + 1 else 0
    }
    val nal2 = Array[Byte](0, 0, 1, (33 << 1).toByte, 1) ++ esc2
    // width = 1284 - 2x(1+1) = 1280, height = 723 - 1x(1+2) = 720
    assert(Multimodal.H265Sps.findAndParse(nal2).contains((1280, 720)))
    // encoder/decoder round-trip sweep; the escaped NAL payload must
    // never contain a raw 00 00 0x<=3 triple (emulation prevention)
    for (w <- 2 to 4098 by 202; h <- Seq(2, 302, 1080, 2160)) {
      assert(Multimodal.H264Sps.findAndParse(
        Multimodal.spsNal(w, h)).contains((w, h)), s"${w}x$h")
      val nal = Multimodal.spsNal(w, h).drop(4)
      for (i <- 0 until nal.length - 2)
        assert(!(nal(i) == 0 && nal(i + 1) == 0 && (nal(i + 2) & 0xFF) <= 2),
          s"unescaped triple in SPS for ${w}x$h at $i")
    }
    // hand-built HIGH-profile SPS: chroma/bit-depth prefix, a present
    // scaling matrix with one listed entry, poc type 1 with a ref
    // cycle -- every conditional branch the baseline writer skips
    val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def u(v: Int, n: Int): Unit = {
      var i = n - 1; while (i >= 0) { bits += ((v >> i) & 1); i -= 1 }
    }
    def ue(v: Int): Unit = {
      val k = v + 1; val n = 32 - Integer.numberOfLeadingZeros(k)
      u(0, n - 1); u(k, n)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    u(100, 8); u(0, 8); u(40, 8) // high profile, level 4.0
    ue(0)        // sps_id
    ue(1)        // chroma_format_idc 4:2:0
    ue(0); ue(0) // bit depths
    u(0, 1)      // transform bypass
    u(1, 1)      // seq_scaling_matrix_present
    u(1, 1)      // list 0 present: three deltas then a zero-scale stop
    for (_ <- 0 until 3) se(1) // scales 9, 10, 11
    se(-11)      // nextScale hits 0 -> remaining entries use defaults
    for (_ <- 1 until 8) u(0, 1) // lists 1-7 absent
    ue(0)        // log2_max_frame_num_minus4
    ue(1)        // pic_order_cnt_type 1
    u(0, 1); se(2); se(-2)
    ue(2); se(3); se(-3) // two-entry ref cycle
    ue(1); u(0, 1)
    ue(79); ue(44)  // 1280x720 in MBs
    u(1, 1); u(1, 1)
    u(0, 1)      // no cropping
    u(0, 1); u(1, 1)
    while (bits.size % 8 != 0) u(0, 1)
    val raw = bits.grouped(8)
      .map(_.foldLeft(0)((x, bit) => (x << 1) | bit).toByte).toArray
    val esc = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    for (x <- raw) { // same emulation-prevention discipline as spsNal
      if (zeros >= 2 && (x & 0xFF) <= 3) { esc += 3; zeros = 0 }
      esc += x; zeros = if (x == 0) zeros + 1 else 0
    }
    val hi = Array[Byte](0, 0, 1, 0x67) ++ esc
    assert(Multimodal.H264Sps.findAndParse(hi).contains((1280, 720)))
    // malformed SPS (truncated mid-field) -> None, never a throw
    assert(Multimodal.H264Sps.findAndParse(hi.take(8)).isEmpty)
    assert(Multimodal.H264Sps.findAndParse(Array[Byte](0, 0, 1, 0x67)).isEmpty)
  }

  test("asofJoin rejects reserved names, payload collisions, numeric ts tolerance") {
    val s2 = s
    import s2.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, t(10), 100L)).toDF("k", "ts", "lid")
    val right = Seq((1L, t(9), 2.0)).toDF("k", "ts", "price")
    // any __-prefixed column on either input namespace is reserved
    intercept[IllegalArgumentException] {
      graft.ops.AsOf.asofJoin(left.withColumnRenamed("lid", "__rts"), right,
        Seq("k"), "ts", "ts", Seq("price"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.AsOf.asofJoin(left, right.withColumnRenamed("price", "__p_x"),
        Seq("k"), "ts", "ts", Seq("__p_x"))
    }
    // a payload column shadowing a left column would emit duplicates
    intercept[IllegalArgumentException] {
      graft.ops.AsOf.asofJoin(left, right.withColumnRenamed("price", "lid"),
        Seq("k"), "ts", "ts", Seq("lid"))
    }
    // toleranceMs math assumes timestamp-typed ts columns
    intercept[IllegalArgumentException] {
      graft.ops.AsOf.asofJoin(
        left.withColumn("ts", lit(10000L)),
        right.withColumn("ts", lit(9000L)),
        Seq("k"), "ts", "ts", Seq("price"), toleranceMs = Some(3000L))
    }
    // without tolerance, numeric ts is fine (pure ordering semantics)
    val ok = rows(graft.ops.AsOf.asofJoin(
      left.withColumn("ts", lit(10000L)), right.withColumn("ts", lit(9000L)),
      Seq("k"), "ts", "ts", Seq("price")))
    assert(ok.map(_.last) == Seq(2.0), ok)
  }

  test("rangeJoin: inclusive start, exclusive end, multi-bin spans") {
    val s2 = s
    import s2.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, t(10), 100L), (1L, t(20), 101L), (1L, t(25), 102L),
      (2L, t(10), 103L)).toDF("k", "ts", "lid")
    val right = Seq(
      (1L, t(10), t(20), 900L),  // [10,20): catches 100, not 101
      (1L, t(5), t(65), 901L),   // spans many 7s bins: catches all of k=1
      (2L, t(11), t(11), 902L))  // empty interval: catches nothing
      .toDF("k", "s", "e", "rid")
    val out = rows(graft.ops.AsOf.rangeJoin(left, right, Seq("k"), "ts",
      "s", "e", binMs = 7000L).select(col("lid"), col("rid")))
      .map(r => (r.head, r(1))).toSet
    assert(out == Set((100L, 900L), (100L, 901L), (101L, 901L), (102L, 901L)),
      out)
  }

  test("int8 quantization round-trips within scale/2 per component") {
    val df = s.sql("SELECT CAST(array(0.5, -1.0, 0.25, 0.0) AS array<float>) AS v")
    val r = df.select(Similarity.quantizeInt8(col("v")).as("qv"))
      .select(col("qv.scale"), col("qv.q"),
        Similarity.dequantizeInt8(col("qv")).as("d")).head()
    val scale = r.getDouble(0)
    assert(scale == 1.0 / 127.0, scale)
    assert(r.getSeq[Byte](1) == Seq[Byte](64, -127, 32, 0), r.getSeq[Byte](1))
    val d = r.getSeq[Double](2)
    val orig = Seq(0.5, -1.0, 0.25, 0.0)
    d.zip(orig).foreach { case (a, b) =>
      assert(math.abs(a - b) <= scale / 2 + 1e-12, s"$a vs $b") }
    // zero vector: unit scale, all-zero codes
    val z = s.sql("SELECT CAST(array(0.0, 0.0) AS array<float>) AS v")
      .select(Similarity.quantizeInt8(col("v")).as("qv"))
      .select(col("qv.scale"), col("qv.q")).head()
    assert(z.getDouble(0) == 1.0 && z.getSeq[Byte](1) == Seq[Byte](0, 0), z)
    // l2Normalize: unit norm, zero vector passes through
    val n = s.sql("SELECT CAST(array(3.0, 4.0) AS array<float>) AS v")
      .select(Similarity.l2Normalize(col("v")).as("n")).head().getSeq[Double](0)
    assert(n == Seq(0.6, 0.8), n)
  }

  test("WavDecoder decodes synthesized PCM exactly; non-audio yields nulls") {
    val wav = Multimodal.synthPcmWav(800)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val df = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, wav),
      org.apache.spark.sql.Row(2L, "definitely not audio".getBytes("UTF-8"))).asJava,
      schema)
    val media = df.select(col("doc_id"),
      Multimodal.asMedia(col("payload"), "audio/wav", lit("mem://a")).as("media"))
    val got = rows(Multimodal.audioFeatures(media, "media")
      .select(col("doc_id"), col("audio.sample_rate"), col("audio.channels"),
        col("audio.n_frames"), col("audio.duration_ms"), col("audio.rms"))
      .orderBy("doc_id"))
    assert(got(0)(1) == 8000 && got(0)(2) == 1 && got(0)(3) == 800L, got(0))
    assert(got(0)(4) == 100.0, got(0)) // 800 frames at 8 kHz
    // reference RMS from the sawtooth definition, summed the same way
    val ref = {
      var sum = 0.0
      for (k <- 0 until 800) {
        val v = (((k * 37) % 1001) - 500) * 60.0
        sum += v * v
      }
      math.sqrt(sum / 800) / 32768.0
    }
    assert(got(0)(5) == ref, s"rms ${got(0)(5)} != $ref")
    assert(got(1).drop(1).forall(_ == null), got(1))
  }

  test("resizeImages really re-encodes: decoded dims match the target") {
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24) img.setRGB(x, y, 0x808080)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val df = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(1L, baos.toByteArray),
      org.apache.spark.sql.Row(2L, "junk".getBytes("UTF-8"))).asJava, schema)
    val media = df.select(col("doc_id"),
      Multimodal.asMedia(col("payload"), "image/png", lit("mem://r")).as("media"))
    val resized = Multimodal.resizeImages(media, "media", 8, 8)
    // decode the RESIZED payload: true pixel dims must be 8x8
    val got = rows(Multimodal.decode(resized, "media")
      .select(col("doc_id"), col("decoded.width"), col("decoded.height"))
      .orderBy("doc_id"))
    assert(got(0)(1) == 8 && got(0)(2) == 8, got(0))
    // junk payload passes through unchanged (fake decode, not a crash)
    assert(got(1)(1) != null, got(1))
    val passthrough = rows(resized.filter(col("doc_id") === 2)
      .select(col("media.bytes"))).head.head.asInstanceOf[Array[Byte]]
    assert(new String(passthrough, "UTF-8") == "junk")
  }

  test("multimodal: decode plumbing + features + frame sampling") {
    val docs = docsDf(Seq((1L, "payload one"), (2L, "payload two")))
    val media = docs.select(col("doc_id"),
      Multimodal.asMedia(encode(col("text"), "UTF-8"), "image/fake",
        concat(lit("mem://"), col("doc_id"))).as("media"))
    val decoded = Multimodal.decode(media, "media")
    assert(decoded.schema.fieldNames.contains("decoded"))
    val r = rows(decoded.select(col("doc_id"), col("decoded.width"),
      col("decoded.mean_luma")).orderBy("doc_id"))
    assert(r.size == 2 && r.forall(x =>
      x(1).asInstanceOf[Int] >= 64 && x(2).asInstanceOf[Double] >= 0))
    // determinism: same payload -> same decode
    val r2 = rows(Multimodal.decode(media, "media")
      .select(col("decoded")).orderBy("doc_id"))
    assert(rows(decoded.select(col("decoded")).orderBy("doc_id")) == r2)

    val feats = rows(media.select(
      Multimodal.fakeFeatures(col("media"), dims = 8).as("f")))
    assert(feats.head.head.asInstanceOf[scala.collection.Seq[Double]].size == 8)

    // frame sampling: 250ms duration at 100ms -> 3 frames
    val vid = media.withColumn("media",
      Multimodal.resize(col("media"), 32, 32))
      .withColumn("media", struct(
        col("media.bytes").as("bytes"), col("media.mime").as("mime"),
        col("media.width").as("width"), col("media.height").as("height"),
        lit(250.0).as("duration_ms"), col("media.source_uri").as("source_uri")))
    val frames = Multimodal.frameSample(vid, "media", everyMs = 100.0)
    assert(frames.filter(col("doc_id") === 1).count() == 3)
  }

  test("native vector kernels match the HOF formulas bit-exactly") {
    import org.apache.spark.sql.Column
    // the replaced higher-order-function forms, kept here as the spec
    def hofDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    def hofCosine(a: Column, b: Column): Column = {
      val d = hofDot(a, b)
      val n = sqrt(hofDot(a, a)) * sqrt(hofDot(b, b))
      when(n === 0, lit(null)).otherwise(d / n)
    }
    val rnd = new scala.util.Random(7)
    val varied = (1 to 50).map { i =>
      (Seq.fill(16)(rnd.nextDouble() * 200 - 100),
       Seq.fill(16)(rnd.nextDouble() * 200 - 100))
    }
    val edge: Seq[(Seq[Double], Seq[Double])] = Seq(
      (Seq.empty, Seq.empty),              // empty -> dot 0.0, cosine null
      (Seq(1.0, 2.0), Seq(3.0)),           // length mismatch -> null
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),      // zero norm -> cosine null
      (Seq(1e160, 1e160), Seq(1e160, 1e160))) // overflow -> Inf/NaN paths
    val df = s.createDataFrame(varied ++ edge).toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val cmp = df.select(
      Similarity.dot(col("a"), col("b")).as("nd"),
      hofDot(col("a"), col("b")).as("hd"),
      Similarity.cosine(col("a"), col("b")).as("nc"),
      hofCosine(col("a"), col("b")).as("hc"))
    def same(x: Any, y: Any) = (x, y) match {
      case (a: Double, b: Double) => (a.isNaN && b.isNaN) || a == b
      case _ => x == y
    }
    rows(cmp).zipWithIndex.foreach { case (r, i) =>
      assert(same(r(0), r(1)), s"dot row $i: ${r(0)} != ${r(1)}")
      assert(same(r(2), r(3)), s"cosine row $i: ${r(2)} != ${r(3)}")
    }
    // null element and null array -> null through both paths
    val nulls = s.sql(
      """SELECT array(1.0d, cast(null as double)) a, array(1.0d, 2.0d) b
        |UNION ALL SELECT cast(null as array<double>), array(1.0d, 2.0d)""".stripMargin)
    rows(nulls.select(
      Similarity.dot(col("a"), col("b")), Similarity.cosine(col("a"), col("b"))))
      .foreach(r => assert(r == Seq(null, null), r.toString))
    // the kernel is codegen-native: no CodegenFallback markers in the
    // executed plan of a kernel-only projection
    val planStr = cmp.select(col("nd"), col("nc"))
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("zip_with"), planStr)
  }

  test("chunkTokens: sliding windows with overlap, clamped tail, edge cases") {
    import graft.ops.Text
    val df = s.createDataFrame(Seq(
      (1L, "a b c d e f g h i j"),              // 10 tokens
      (2L, "x y"),                              // shorter than one chunk
      (3L, ""),                                 // blank -> no chunks
      (4L, "   "),                              // whitespace -> no chunks
      (5L, null.asInstanceOf[String])           // null -> no chunks
    )).toDF("doc_id", "text")
    val got = rows(Text.chunkTokens(df, "doc_id", "text", size = 4,
      overlap = 2).orderBy("doc_id", "chunk_ix"))
    // no trailing "i j" chunk: tokens 8-9 are already covered by
    // "g h i j", so a 5th window would only duplicate embedding work
    assert(got == Seq(
      Seq(1L, 0, "a b c d"), Seq(1L, 1, "c d e f"), Seq(1L, 2, "e f g h"),
      Seq(1L, 3, "g h i j"),
      Seq(2L, 0, "x y")), got)
    // every token is covered exactly once by the union of chunks
    val cover = got.filter(_.head == 1L).map(_(2).toString)
    assert(cover.last.split(" ").last == "j", cover)
    // overlap = 0 partitions the document exactly
    val flat = rows(Text.chunkTokens(df.filter(col("doc_id") === 1),
      "doc_id", "text", 3).orderBy("chunk_ix")).map(_(2)).mkString(" ")
    assert(flat == "a b c d e f g h i j", flat)
    intercept[IllegalArgumentException](
      Text.chunkTokens(df, "doc_id", "text", 4, 4))
    intercept[IllegalArgumentException](
      Text.chunkTokens(df, "doc_id", "text", 0))
  }

  test("cosineI8 kernel: in-place byte scoring == cast-and-score, scale-invariant") {
    import graft.functions.VectorKernels
    val rnd = new scala.util.Random(11)
    val data = (1 to 40).map { _ =>
      (Seq.fill(16)(rnd.nextDouble() * 2 - 1),
       Seq.fill(16)((rnd.nextInt(255) - 127).toByte))
    } :+ ((Seq.fill(4)(1.0), Seq.fill(4)(0.toByte)))   // zero-norm bytes
    val df = s.createDataFrame(data).toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<tinyint>").as("b"))
    val cmp = df.select(
      VectorKernels.cosineI8(col("a"), col("b")).as("i8"),
      VectorKernels.cosine(col("a"), col("b").cast("array<double>")).as("dd"),
      // the quantized-probe claim: scoring raw codes matches scoring
      // the dequantized vector (positive per-vector scale cancels)
      VectorKernels.cosine(col("a"),
        transform(col("b"), x => x.cast("double") * lit(0.0371))).as("dq"))
    rows(cmp).foreach { r =>
      assert(r(0) == r(1), s"i8 ${r(0)} != cast ${r(1)}")
      (r(0), r(2)) match {
        case (a: Double, b: Double) => assert(math.abs(a - b) < 1e-12, r)
        case (a, b) => assert(a == b, r) // zero-norm -> null on both
      }
    }
    // length mismatch -> null
    val mm = s.sql("SELECT array(1.0d, 2.0d) a, cast(array(3) as array<tinyint>) b")
    assert(rows(mm.select(VectorKernels.cosineI8(col("a"), col("b"))))
      == Seq(Seq(null)))
  }

  test("filterDomains: subdomain match, www/port strip, null url, no false drops") {
    val urls = docsDf(Seq(
      (1L, "https://bad.com/page"),              // exact match -> drop
      (2L, "HTTP://WWW.Bad.com:80/x?q=1"),       // www/port/case -> drop
      (3L, "https://deep.sub.bad.com/y"),        // subdomain -> drop
      (4L, "https://notbad.com/z"),              // suffix of the NAME, not
                                                 // a label suffix -> keep
      (5L, "https://good.org/ok"),               // unrelated -> keep
      (6L, null)))                               // null url -> keep
      .withColumnRenamed("text", "url")
    val bl = docsDf(Seq((1L, " BAD.com "))).select(col("text").as("domain"))
    val kept = rows(Text.filterDomains(urls, "url", "doc_id", bl))
      .map(_.head).toSet
    assert(kept == Set(4L, 5L, 6L), kept)
    // empty blocklist drops nothing
    assert(rows(Text.filterDomains(urls, "url", "doc_id",
      bl.filter(lit(false)))).size == 6)
  }

  test("hashEmbed: signed counts, linearity, normalization, null, codegen") {
    // un-normalized: single token lands ±1 in exactly one bucket;
    // repeating it doubles that entry (the accumulation is linear)
    val one = rows(Text.hashEmbed(docsDf(Seq((1L, "alpha"))), "text",
      dims = 16, outCol = "e", normalize = false)).head(2)
      .asInstanceOf[scala.collection.Seq[Float]]
    assert(one.count(_ != 0f) == 1 && one.exists(v => v == 1f || v == -1f), one)
    val twice = rows(Text.hashEmbed(docsDf(Seq((1L, "alpha alpha"))), "text",
      dims = 16, outCol = "e", normalize = false)).head(2)
      .asInstanceOf[scala.collection.Seq[Float]]
    assert(twice == one.map(_ * 2), twice)
    // normalized: unit L2 norm, dims respected
    val nrm = rows(Text.hashEmbed(docsDf(Seq((1L, "a b c d e"))), "text",
      dims = 32, outCol = "e")).head(2).asInstanceOf[scala.collection.Seq[Double]]
    assert(nrm.size == 32)
    assert(math.abs(nrm.map(x => x * x).sum - 1.0) < 1e-9, nrm.toString)
    // null text -> null embedding (nullIntolerant chain)
    assert(rows(Text.hashEmbed(docsDf(Seq((1L, null))), "text", 8,
      outCol = "e", normalize = false)).head(2) == null)
    // the kernel stays inside whole-stage codegen on a real scan
    val cg = s.range(3).select(graft.functions.TextKernels.featureHash(
      split(concat(lit("tok"), col("id").cast("string")), " "), 8).as("e"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(rows(cg).forall(_.head.asInstanceOf[scala.collection.Seq[Float]]
      .count(_ != 0f) == 1))
  }

  test("htmlToText: raw-text skip, suppression, entities, whitespace, codegen") {
    def x(html: String): String =
      rows(docsDf(Seq((1L, html))).select(
        Text.htmlToText(col("text")).as("t"))).head.head.asInstanceOf[String]
    // blocks become lines, inline tags vanish, head suppresses
    assert(x("<html><head><title>T</title></head><body>" +
      "<h1>Hi</h1><p>one <b>two</b> three</p><p>four</p></body></html>") ==
      "Hi\none two three\nfour")
    // script/style are raw text: '<p>' inside them is NOT a tag;
    // case-insensitive close, attributes on the opener
    assert(x("<SCRIPT type=\"a\">var s = '<p>no</p>';</SCRIPT>after") == "after")
    assert(x("<style>p > a { color: red }</style><p>kept</p>") == "kept")
    // '>' inside a quoted attribute doesn't close the tag
    assert(x("<div class=\"x>y\">in</div>") == "in")
    // comments drop even when they contain tags; doctype drops
    assert(x("<!DOCTYPE html>a<!-- <p>hidden</p> -->b") == "ab")
    // CDATA blocks drop whole, even containing '>' and tags;
    // unterminated CDATA swallows the tail
    assert(x("a<![CDATA[ x > y <p>no</p> ]]>b") == "ab")
    assert(x("a<![CDATA[ cut off") == "a")
    // entities: named, numeric dec/hex, unknown kept literal
    assert(x("&amp;&lt;tag&gt; &#65;&#x42; &unknown; a&b") ==
      "&<tag> AB &unknown; a&b")
    // nbsp entity and literal nbsp both collapse as spaces
    assert(x("a&nbsp;&nbsp;b c d") == "a b c d")
    // stray '<' in prose survives
    assert(x("<p>1 < 2 and 3 > 2</p>") == "1 < 2 and 3 > 2")
    // nested suppression with depth; self-closing doesn't push depth
    assert(x("<template><div><p>no</p></div></template><template/>yes") == "yes")
    assert(x("<svg><text>chart label</text></svg>visible") == "visible")
    // unclosed raw-text tag swallows the tail; truncated tag too
    assert(x("a<script>var x = 1;") == "a")
    assert(x("a<p>b</p") == "a\nb")
    // whitespace: runs collapse, lines trim, empties drop
    assert(x("<p>  a \t b  </p>\n\n  <p>   </p> <p>c</p>") == "a b\nc")
    // br is a line break; null propagates
    assert(x("one<br/>two") == "one\ntwo")
    assert(rows(docsDf(Seq((1L, null))).select(
      Text.htmlToText(col("text")).as("t"))).head.head == null)
    // the kernel stays inside whole-stage codegen on a real scan
    val cg = s.range(3).select(Text.htmlToText(
      concat(lit("<p>doc "), col("id").cast("string"), lit("</p>"))).as("t"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(rows(cg).map(_.head) == Seq("doc 0", "doc 1", "doc 2"))
  }

  test("charEntropy: closed forms, codepoints not chars, null/empty, codegen") {
    def h(t: String): Any =
      rows(docsDf(Seq((1L, t))).select(
        Text.charEntropy(col("text")).as("h"))).head.head
    assert(h("aaaa") == 0.0)
    assert(math.abs(h("ab").asInstanceOf[Double] - math.log(2)) < 1e-12)
    // uniform over 4 distinct chars -> ln 4
    assert(math.abs(h("abcd").asInstanceOf[Double] - math.log(4)) < 1e-12)
    // codepoint-level: a surrogate-pair char counts ONCE (n = 4, two
    // distinct codepoints twice each -> ln 2, not the ln of a
    // UTF-16-unit distribution)
    assert(math.abs(h("𝄞𝄞aa").asInstanceOf[Double]
      - math.log(2)) < 1e-12)
    assert(h("") == null)
    assert(rows(docsDf(Seq((1L, null))).select(
      Text.charEntropy(col("text")).as("h"))).head.head == null)
    // natural prose sits in the expected band; spam sits near zero
    val prose = h("the quick brown fox jumps over the lazy dog")
      .asInstanceOf[Double]
    assert(prose > 2.5 && prose < 3.5, prose)
    // the kernel stays inside whole-stage codegen on a real scan
    val cg = s.range(3).select(Text.charEntropy(
      concat(lit("doc"), col("id").cast("string"))).as("h"))
    assert(cg.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(rows(cg).forall(_.head.asInstanceOf[Double] > 0))
  }

  test("decodeText: charset header, BOMs, bad bytes replace, codegen") {
    import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
    def d(payload: Array[Byte], ctype: String): String = {
      val df = s.createDataFrame(Seq(
        org.apache.spark.sql.Row(payload, ctype)).asJava,
        StructType(Seq(StructField("p", BinaryType),
          StructField("ct", StringType))))
      rows(df.select(graft.functions.TextKernels.decodeText(
        col("p"), col("ct")).as("t"))).head.head.asInstanceOf[String]
    }
    // header charset drives the decode: é is 0xE9 in latin-1
    assert(d(Array(0xE9.toByte), "text/html; charset=iso-8859-1") == "é")
    assert(d(Array(0xE9.toByte), "text/html; charset=\"ISO-8859-1\"") == "é")
    // the same byte under utf-8 is malformed -> replacement char, no throw
    assert(d(Array(0xE9.toByte), "text/html") == "�")
    assert(d(Array(0xE9.toByte), null) == "�") // absent header
    // unknown charset name falls back to utf-8
    assert(d("ok".getBytes("UTF-8"), "text/html; charset=no-such-cs") == "ok")
    // BOMs win over the header and are stripped
    assert(d(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "x".getBytes("UTF-8"), "text/html; charset=iso-8859-1") == "x")
    assert(d(Array[Byte](0xFF.toByte, 0xFE.toByte, 'y'.toByte, 0), "") == "y")
    assert(d(Array[Byte](0xFE.toByte, 0xFF.toByte, 0, 'z'.toByte), "") == "z")
    // a multi-byte legacy encoding ships with the JVM
    assert(d("東京".getBytes("Shift_JIS"),
      "text/html; charset=shift_jis") == "東京")
    // null payload -> null; codegen plan shape
    val nullDf = s.createDataFrame(Seq(
      org.apache.spark.sql.Row(null, "text/html")).asJava,
      StructType(Seq(StructField("p", BinaryType),
        StructField("ct", StringType))))
    assert(rows(nullDf.select(graft.functions.TextKernels.decodeText(
      col("p"), col("ct")).as("t"))).head.head == null)
    val cg = s.range(3).select(graft.functions.TextKernels.decodeText(
      encode(concat(lit("v"), col("id").cast("string")), "UTF-8"),
      lit("text/plain; charset=utf-8")).as("t"))
    assert(cg.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(rows(cg).map(_.head) == Seq("v0", "v1", "v2"))
  }

  test("hashEmbed feeds the vector machinery: dedup finds hashed twins") {
    // two documents with identical token bags embed identically; a
    // third, disjoint one stays — the model-free text->vector bridge
    // composes with cosineDedup unchanged
    val docs = docsDf(Seq(
      (1L, "spark shuffles partition the keyed data across executors " * 3),
      (2L, "spark shuffles partition the keyed data across executors " * 3),
      (3L, "entirely different vocabulary about cooking pasta tonight " * 3)))
    val emb = Text.hashEmbed(docs, "text", dims = 64)
    val kept = rows(Similarity.cosineDedup(emb, "embedding", "doc_id",
      threshold = 0.99, dims = 64)).map(_.head).toSet
    assert(kept == Set(1L, 3L), kept)
  }

  test("decontaminateSemantic: planted bench hit drops, both paths, empty bench") {
    val env = Testbed.env(spark, "/root/testdata/sf0.001")
    val emb = env.view("embeddings", Seq("vec_id", "embedding")).read()
    val dims = emb.head().getSeq[Float](1).size
    val bench = emb.filter(col("vec_id") === 7L).select(
      transform(col("embedding"), x => x * lit(1.001f)).as("bv"))
    // LSH-banded broadcast path: exactly vec 7 is contaminated
    val survivors = rows(Similarity.decontaminateSemantic(emb, "embedding",
      "vec_id", bench, "bv", threshold = 0.9, dims = dims))
      .map(_.head).toSet
    val all = rows(emb.select("vec_id")).map(_.head).toSet
    assert(survivors == all - 7L,
      s"missing=${all -- survivors -- Set(7L)} extraDropped=${all -- survivors}")
    // exact broadcast nested-loop path agrees
    val exact = rows(Similarity.decontaminateSemantic(emb, "embedding",
      "vec_id", bench, "bv", threshold = 0.9, dims = dims, exact = true))
      .map(_.head).toSet
    assert(exact == survivors, (exact -- survivors, survivors -- exact).toString)
    // empty bench decontaminates nothing on either path
    val none = bench.filter(lit(false))
    assert(rows(Similarity.decontaminateSemantic(emb, "embedding", "vec_id",
      none, "bv", 0.9, dims)).size == all.size)
    assert(rows(Similarity.decontaminateSemantic(emb, "embedding", "vec_id",
      none, "bv", 0.9, dims, exact = true)).size == all.size)
  }

  test("Mp3Probe and FlacProbe: header walks, Xing override, truncation-safe") {
    // CBR walk: 10 frames x 288 bytes, 36 ms each — exact arithmetic
    val b = Multimodal.synthMp3(10)
    val r = Multimodal.Mp3Probe.parse(b).get
    assert(r.getInt(0) == 32000 && r.getInt(1) == 1, r.toString)
    assert(r.getLong(2) == 10L * 1152 && r.getDouble(3) == 360.0)
    assert(r.get(4) == null) // facts only, no rms
    // Xing tag: the stored count (audio frames) overrides the walk,
    // which also sees the carrier frame
    val x = Multimodal.Mp3Probe.parse(Multimodal.synthMp3(10, xing = true)).get
    assert(x.getLong(2) == 10L * 1152 && x.getDouble(3) == 360.0, x.toString)
    // leading ID3v2 tag skipped via its syncsafe length
    val id3 = "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, 10) ++
      new Array[Byte](10) ++ b
    assert(Multimodal.Mp3Probe.parse(id3).get.getLong(2) == 10L * 1152)
    // truncated tail: only COMPLETE frames count
    assert(Multimodal.Mp3Probe.parse(b.take(288 * 3 + 100)).get
      .getLong(2) == 3L * 1152)
    // under two chained frames / non-audio / null -> None
    assert(Multimodal.Mp3Probe.parse(b.take(288)).isEmpty)
    assert(Multimodal.Mp3Probe.parse("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.Mp3Probe.parse(null).isEmpty)
    // FLAC STREAMINFO: packed rate/channels/samples big-endian
    val fb = Multimodal.synthFlac(48000L)
    val fr = Multimodal.FlacProbe.parse(fb).get
    assert(fr.getInt(0) == 16000 && fr.getInt(1) == 1, fr.toString)
    assert(fr.getLong(2) == 48000L && fr.getDouble(3) == 3000.0)
    // streamed FLAC (total samples 0 = unknown) -> null facts, not zero
    val sf = Multimodal.FlacProbe.parse(Multimodal.synthFlac(0L)).get
    assert(sf.get(2) == null && sf.get(3) == null)
    assert(Multimodal.FlacProbe.parse(fb.take(20)).isEmpty)
    assert(Multimodal.FlacProbe.parse(null).isEmpty)
    // stereo 44.1 kHz flac reads its own fields, not the synth defaults
    val st = Multimodal.FlacProbe.parse(
      Multimodal.synthFlac(44100L, rate = 44100, channels = 2)).get
    assert(st.getInt(0) == 44100 && st.getInt(1) == 2 &&
      st.getDouble(3) == 1000.0)
    // WavDecoder routes both through the same audioType fallback,
    // and real WAV still decodes through javax.sound (rms present)
    assert(Multimodal.WavDecoder.decode(fb).getInt(0) == 16000)
    assert(Multimodal.WavDecoder.decode(b).getInt(0) == 32000)
    assert(Multimodal.WavDecoder.decode(Multimodal.synthPcmWav(100)).get(4) != null)
  }

  test("AdtsProbe: AAC frame walk, CRC variant, truncation-safe") {
    // 5 frames x 39 bytes, 1024 samples each at 16 kHz = 64 ms/frame
    val a = Multimodal.synthAdts(5)
    val r = Multimodal.AdtsProbe.parse(a).get
    assert(r.getInt(0) == 16000 && r.getInt(1) == 1, r.toString)
    assert(r.getLong(2) == 5L * 1024 && r.getDouble(3) == 320.0)
    assert(r.get(4) == null) // facts only, no rms
    // the CRC-protected 9-byte header walks to the same answer
    val c = Multimodal.AdtsProbe.parse(Multimodal.synthAdts(5, crc = true)).get
    assert(c.getLong(2) == 5L * 1024 && c.getDouble(3) == 320.0, c.toString)
    // leading ID3v2 tag skipped via its syncsafe length
    val id3 = "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, 10) ++
      new Array[Byte](10) ++ a
    assert(Multimodal.AdtsProbe.parse(id3).get.getLong(2) == 5L * 1024)
    // truncated tail: only COMPLETE frames count
    assert(Multimodal.AdtsProbe.parse(a.take(39 * 3 + 20)).get
      .getLong(2) == 3L * 1024)
    // under two chained frames / non-audio / null -> None
    assert(Multimodal.AdtsProbe.parse(a.take(39)).isEmpty)
    assert(Multimodal.AdtsProbe.parse("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.AdtsProbe.parse(null).isEmpty)
    // an MP3 payload is NOT misread as ADTS (layer bits differ), and
    // vice versa — the two walks are mutually exclusive
    assert(Multimodal.AdtsProbe.parse(Multimodal.synthMp3(5)).isEmpty)
    assert(Multimodal.Mp3Probe.parse(a).isEmpty)
    // the decode fallback routes ADTS through the same audioType row
    assert(Multimodal.WavDecoder.decode(a).getInt(0) == 16000)
  }

  test("Mp4Probe.parseAudio: M4A sound-trak facts, video MP4 is None") {
    val m = Multimodal.synthM4a(32000L)
    val r = Multimodal.Mp4Probe.parseAudio(m).get
    assert(r.getInt(0) == 16000 && r.getInt(1) == 1, r.toString)
    assert(r.getLong(2) == 32000L && r.getDouble(3) == 2000.0)
    assert(r.get(4) == null) // facts only, no rms
    // stereo 44.1 kHz reads its own mp4a fields
    val st = Multimodal.Mp4Probe.parseAudio(
      Multimodal.synthM4a(44100L, rate = 44100, channels = 2)).get
    assert(st.getInt(0) == 44100 && st.getInt(1) == 2 &&
      st.getDouble(3) == 1000.0, st.toString)
    // a VIDEO-only MP4 has no sound trak: the audio prober declines
    assert(Multimodal.Mp4Probe.parseAudio(
      Multimodal.synthMp4(2000, 320, 240)).isEmpty)
    // truncated / non-BMFF / null -> None
    assert(Multimodal.Mp4Probe.parseAudio(m.take(40)).isEmpty)
    assert(Multimodal.Mp4Probe.parseAudio("junk".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.Mp4Probe.parseAudio(null).isEmpty)
    // the audio decode fallback chain reaches the container walk
    assert(Multimodal.WavDecoder.decode(m).getInt(0) == 16000)
    // the VIDEO prober still owns the same bytes' container facts
    assert(Multimodal.Mp4Probe.parse(m).get.getString(0) == "M4A")
  }
}
