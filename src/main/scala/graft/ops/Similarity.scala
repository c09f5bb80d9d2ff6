package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the 100-TB path (probe
  * only candidate buckets instead of scanning every vector), with an
  * optionally persisted band-partitioned index so repeated queries
  * read only probed partitions.
  *
  * Per-row dot products are `zip_with` + `aggregate` higher-order
  * functions — no UDF. Bulk signature computation uses the explode +
  * simple-aggregate shape instead (64 per-row array lambdas overflow
  * whole-stage codegen and silently run interpreted; 64 plain `sum`
  * aggregates over exploded elements stay codegen'd with map-side
  * combine — same fix as [[Dedup.minhashPairs]]).
  */
object Similarity {


  // per-row scalars (norms, maxima) referenced inside element lambdas
  // are let-bound via Hof.bind — embedded free subtrees re-evaluate
  // per element in interpreted HOFs, turning O(d) columns into O(d²)
  import Hof.bind

  /** Dot product of two array<numeric> columns — a codegen'd native
    * expression ([[graft.functions.DotProduct]]); bit-exact with the
    * HOF `aggregate(zip_with(_*_), 0.0, _+_)` fold it replaced. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorKernels.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either side has zero norm. Fused
    * single-pass codegen kernel ([[graft.functions.CosineSim]]). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosine(a, b)

  /** L2-normalize a vector (as `array<double>`); zero vectors pass
    * through unscaled. Pure higher-order-function Column — codegen,
    * no UDF, composes under any projection. */
  def l2Normalize(vec: Column): Column =
    bind(norm(vec.cast("array<double>")), n =>
      when(n === 0.0, vec.cast("array<double>"))
        .otherwise(transform(vec, x => x.cast("double") / n)))

  /** Symmetric int8 quantization: `struct(scale double, q
    * array<tinyint>)` with `scale = max|x| / 127` (so dequantized
    * error is bounded by scale/2 per component). The 4x storage/
    * shuffle shrink is what makes billion-vector similarity pipelines
    * movable; all arithmetic in double so any engine reproduces the
    * quantized values exactly. */
  def quantizeInt8(vec: Column): Column =
    bind(aggregate(vec, lit(0.0d), (a, x) =>
        greatest(a, abs(x.cast("double")))), mx => {
      val scale = when(mx === 0.0, lit(1.0)).otherwise(mx / 127.0)
      struct(scale.as("scale"),
        transform(vec, x => round(x.cast("double") / scale, 0)
          .cast("tinyint")).as("q"))
    })

  /** Inverse of [[quantizeInt8]]: `array<double>` reconstruction. */
  def dequantizeInt8(qv: Column): Column =
    bind(qv, v =>
      transform(v.getField("q"), x => x.cast("double") * v.getField("scale")))

  /** PCA basis of an embedding column: the top-`k` principal
    * components as `k` rows of `d` doubles (row j = component j,
    * descending explained variance), plus the column means. The
    * standard dimensionality step before a billion-vector ANN build
    * (half the dims ≈ half the index IO at minimal recall loss).
    *
    * Scale shape: one distributed pass builds the d×d Gram/covariance
    * (mllib `RowMatrix` — map-side outer products, a single reduce of
    * d² doubles), the eigendecomposition of that d×d matrix runs on
    * the driver — exact, deterministic for a given corpus, and
    * independent of partitioning. `d` is embedding width (≤ a few
    * thousand), so driver work is trivial; nothing quadratic ever
    * shuffles. Sign convention: each component is flipped so its
    * largest-|coefficient| entry is positive — eigenvector sign is
    * otherwise arbitrary and would differ across BLAS builds. */
  def pcaBasis(df: DataFrame, vecCol: String, k: Int)
      : (Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = df.select(col(vecCol).cast("array<double>"))
      .na.drop().rdd.map(r => MlVectors.dense(r.getSeq[Double](0).toArray))
    val rm = new RowMatrix(rows)
    val d = rm.numCols().toInt
    require(k >= 1 && k <= d, s"k $k outside [1, $d]")
    val means = rm.computeColumnSummaryStatistics().mean.toArray
    val pc = rm.computePrincipalComponents(k) // d × k, column-major
    val comps = Array.tabulate(k) { j =>
      val v = Array.tabulate(d)(i => pc(i, j))
      val m = v.maxBy(math.abs)
      if (m < 0) v.map(-_) else v
    }
    (comps, means)
  }

  /** Project vectors onto a [[pcaBasis]]: `array<double>` of length
    * `k`, entry j = dot(vec − mean, component j). The basis rides the
    * plan as LITERAL arrays, so the projection is a narrow per-row
    * stage: k fused [[dot]] kernels (codegen) per vector, no shuffle,
    * no driver round-trips — exactly the shape that survives a 100-TB
    * re-embedding pass. */
  def pcaProject(vec: Column, basis: (Array[Array[Double]], Array[Double]))
      : Column = {
    val (comps, means) = basis
    val meanLit = array(means.map(lit): _*)
    bind(zip_with(vec.cast("array<double>"), meanLit, (x, m) => x - m),
      centered => array(comps.map(c =>
        dot(centered, array(c.map(lit): _*))): _*))
  }

  /** Exact brute-force cosine top-k for one query vector. The global
    * top-k is a TakeOrderedAndProject — no full sort, map-side k. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    Par.spread(df).select(col(idCol),
        cosine(col(vecCol).cast("array<double>"), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (seed-fixed) for sign-LSH. */
  private def planes(dims: Int, numPlanes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dims)(rnd.nextGaussian()))
  }

  /** Pack sign bits into per-band hashes: band b holds bits
    * [b*bandBits, (b+1)*bandBits), tagged with `b << bandBits` so
    * values from different bands never collide. Shared by the column
    * and driver-side (query literal) signature paths — the two MUST
    * stay bit-identical (OpsSpec pins this). */
  private def packBands(bits: Seq[Long], numPlanes: Int, bandBits: Int): Seq[Long] = {
    require(numPlanes % bandBits == 0, "numPlanes must be a multiple of bandBits")
    (0 until numPlanes / bandBits).map { b =>
      val h = bits.slice(b * bandBits, (b + 1) * bandBits).zipWithIndex
        .map { case (bit, i) => bit << i }.sum
      (b.toLong << bandBits) + h
    }
  }

  /** Driver-side signature of one vector — the literal-side twin of
    * [[signatures]]; both fold the dot product left-to-right from 0.0
    * so the sign bits match bit-for-bit. */
  def signatureOf(vec: Seq[Float], dims: Int, numPlanes: Int = 64,
      bandBits: Int = 16, seed: Long = 42L): Seq[Long] = {
    val qd = vec.map(_.toDouble)
    val bits = planes(dims, numPlanes, seed).map { p =>
      if (p.lazyZip(qd).map(_ * _).sum >= 0) 1L else 0L
    }
    packBands(bits, numPlanes, bandBits)
  }

  /** Sign-bit LSH signature column: one bit per hyperplane, packed per
    * `bandBits` bits into an array of band hashes. Vectors sharing a
    * band value are cosine-similar candidates. Defaults (64 planes →
    * 4 bands × 16 bits) keep the random-pair collision rate at
    * ~4 × 2⁻¹⁶ ≈ 6e-5, so candidate sets stay tiny at 1e9 vectors.
    *
    * Per-row shape (64 array-lambda dots): fine for a handful of rows
    * (query literals, tests) but falls out of codegen in bulk — the
    * bulk paths use [[signatures]] instead. */
  def lshBands(vec: Column, dims: Int, numPlanes: Int = 64,
      bandBits: Int = 16, seed: Long = 42L): Column = {
    require(numPlanes % bandBits == 0, "numPlanes must be a multiple of bandBits")
    val ps = planes(dims, numPlanes, seed)
    val bits = ps.map { p =>
      val pc = array(p.map(lit): _*)
      when(dot(vec.cast("array<double>"), pc) >= 0, lit(1L)).otherwise(lit(0L))
    }
    val numBands = numPlanes / bandBits
    array((0 until numBands).map { b =>
      bits.slice(b * bandBits, (b + 1) * bandBits).zipWithIndex
        .map { case (bit, i) => bit * lit(1L << i) }.reduce(_ + _)
        .+(lit(b.toLong << bandBits))
    }: _*)
  }

  /** Bulk LSH signatures: `(__id, __bands array)` for every row, as a
    * MAP-ONLY projection through the native
    * [[graft.functions.MiningKernels.lshBands]] kernel.
    *
    * Scale shape (r14 optimization, guide §2.4/§4): the previous
    * formulation posexploded the vector and computed each hyperplane
    * dot as a `sum(x * plane[pos])` aggregate — codegen-friendly, but
    * the groupBy(id) paid a full shuffle of dims×rows exploded
    * elements on EVERY signature computation (per-query in [[annTopK]],
    * per-build in [[buildIndex]], per-batch in the cross-corpus
    * probes). The kernel computes all `numPlanes` dots in one in-row
    * ascending loop inside whole-stage codegen: zero exchanges, and
    * the first shuffle of every LSH path now carries one narrow row
    * per (doc, band) instead of one per vector element.
    *
    * Bit-exactness: each dot is an ascending-index left fold from 0.0
    * over `min(len, dims)` positions with null elements skipped —
    * exactly the old aggregate's semantics and bit-identical to the
    * driver-side [[signatureOf]] (pinned by OpsSpec). The old
    * sort-aggregation fallback caveat (within-group order not
    * guaranteed under memory pressure) disappears: the kernel's fold
    * order is unconditional. Empty vectors yield null and are dropped,
    * matching the explode pipeline emitting no row for them. */
  def signatures(df: DataFrame, vecCol: String, idCol: String, dims: Int,
      numPlanes: Int = 64, bandBits: Int = 16, seed: Long = 42L): DataFrame = {
    require(numPlanes % bandBits == 0, "numPlanes must be a multiple of bandBits")
    val ps = planes(dims, numPlanes, seed)
    Par.spread(df).select(col(idCol).as("__id"),
        graft.functions.MiningKernels.lshBands(col(vecCol), ps, bandBits)
          .as("__bands"))
      .filter(col("__bands").isNotNull)
  }

  /** The query's probe set: its own band values plus, per multi-probe
    * level, every band value within that hamming distance (level 1 =
    * all single-bit flips). Computed on the driver — the query is a
    * literal, so its signature needs no Spark job. */
  private def queryProbes(query: Seq[Float], dims: Int, numPlanes: Int,
      bandBits: Int, seed: Long, probeLevel: Int): Seq[Long] = {
    val base = signatureOf(query, dims, numPlanes, bandBits, seed)
    def expand(vals: Seq[Long], level: Int): Seq[Long] =
      if (level == 0) vals
      else expand(vals.flatMap { v =>
        v +: (0 until bandBits).map(i => v ^ (1L << i))
      }, level - 1)
    expand(base, probeLevel).distinct
  }

  /** ANN top-k without a persisted index: probe only vectors sharing
    * an LSH band with the query (multi-probe: also bands one bit-flip
    * away, recovering recall lost to the aggressive 16-bit bands),
    * then exact cosine on the candidates.
    *
    * Scale shape: the probe set is a driver-side literal (~4 × (1+16)
    * longs), so candidate selection is one `arrays_overlap` against
    * the signature frame — no explode, no distinct — and the
    * candidate ids (≈0.1% of rows at the defaults) come back to the
    * source via a broadcast semi join. Still scans the full table
    * once per query to compute signatures; for repeated queries build
    * the persisted index once ([[buildIndex]]) and use
    * [[annTopKIndexed]], which reads only probed partitions. */
  def annTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, dims: Int, numPlanes: Int = 64,
      bandBits: Int = 16, probeLevel: Int = 1, seed: Long = 42L): DataFrame = {
    val probes = queryProbes(query, dims, numPlanes, bandBits, seed, probeLevel)
    val sigs = signatures(df, vecCol, idCol, dims, numPlanes, bandBits, seed)
    val candIds = sigs.filter(arrays_overlap(col("__bands"), typedLit(probes)))
      .select(col("__id").as(idCol))
    bruteForceTopK(df.join(candIds, Seq(idCol), "left_semi"),
      vecCol, idCol, query, k)
  }

  /** Number of `__bp` partition buckets an index is laid out in: low
    * bits of the band value. 256 keeps directory listings sane at any
    * scale while a probe set (~68 bands) touches at most 68 of them. */
  private def bucketOf(band: Long, buckets: Int): Long =
    ((band % buckets) + buckets) % buckets

  /** Build a persisted ANN index: `(idCol, vecCol, __band)` rows —
    * one per (vector, band) — written as parquet partitioned by
    * `__bp = band mod buckets`. A query probes ~68 band values, so an
    * indexed lookup lists and reads at most 68 of the `buckets`
    * partition directories (explicit path selection, same pattern as
    * the warehouse's bucket-pruned reads) instead of re-scanning and
    * re-signing the whole table. Vectors are stored in the index
    * (numBands× duplication — the IVF trade) so a probe needs no join
    * back to the source table. */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
      dims: Int, numPlanes: Int = 64, bandBits: Int = 16,
      buckets: Int = 256, seed: Long = 42L): Unit = {
    val sigs = signatures(df, vecCol, idCol, dims, numPlanes, bandBits, seed)
    val banded = sigs.select(col("__id").as(idCol),
      explode(col("__bands")).as("__band"))
    banded.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("__bp", pmod(col("__band"), lit(buckets.toLong)))
      // cluster rows by partition value before the partitioned write:
      // otherwise every map task opens a writer per directory it
      // touches (up to tasks × buckets tiny files — an object-store
      // killer at scale); clustered, each directory gets one file per
      // owning task
      .repartition(col("__bp"))
      .write.mode("overwrite").partitionBy("__bp").parquet(path)
    writeMeta(df.sparkSession, path,
      Map("kind" -> "lsh", "dims" -> dims, "numPlanes" -> numPlanes,
        "bandBits" -> bandBits, "buckets" -> buckets, "seed" -> seed))
  }

  private[ops] def writeIndexMeta(spark: SparkSession, path: String,
      m: Map[String, Any]): Unit = writeMeta(spark, path, m)
  private[ops] def readIndexMeta(spark: SparkSession, path: String): Map[String, Any] =
    readMetaRaw(spark, path)

  /** Vector dimensionality recorded in an index's metadata — the
    * authoritative contract for callers (e.g. streaming sinks) that
    * size batch vectors against a persisted index: reads one tiny
    * sidecar file instead of probing the batch's first row, which
    * costs a job per micro-batch and dies on a leading null vector. */
  def indexDims(spark: SparkSession, path: String): Int =
    readMetaRaw(spark, path)("dims").toString.toInt

  /** Index family recorded in the metadata (`lsh` when absent — the
    * pre-kind LSH layout), for callers dispatching on a persisted
    * index without knowing how it was built (the CLI lifecycle). */
  def indexKind(spark: SparkSession, path: String): String =
    readMetaRaw(spark, path).get("kind").map(_.toString).getOrElse("lsh")

  /** The full metadata sidecar, read-only — build parameters, drift
    * tallies, centroids/codebooks — for observability surfaces. */
  def indexMeta(spark: SparkSession, path: String): Map[String, Any] =
    readMetaRaw(spark, path)

  /** Build-time LSH parameters, persisted next to the index so a query
    * can never silently probe with mismatched parameters (which would
    * read the wrong partitions and return near-zero recall). */
  private def writeMeta(spark: SparkSession, path: String, m: Map[String, Any]): Unit = {
    val f = new Path(path, "_graft_index_meta.json")
    val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration).create(f, true)
    try out.write(graft.view.Json.write(m).getBytes("UTF-8")) finally out.close()
  }

  /** Heal a crashed [[retrainIvfIndex]] swap: the swap renames the
    * live index aside (`path__old`) before renaming the rebuilt
    * scratch into place, so a crash between the two renames leaves
    * `path` missing with the COMPLETE old index at `path__old` —
    * unambiguous (a healthy index always exists at `path`), so any
    * entry point that opens the index rolls the rename back first. */
  private def healSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val live = new Path(path)
    val old = new Path(path.stripSuffix("/") + "__old")
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(s"Failed to restore $old to $live")
  }

  private def readMetaRaw(spark: SparkSession, path: String): Map[String, Any] = {
    val f = new Path(path, "_graft_index_meta.json")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healSwap(fs, path)
    require(fs.exists(f), s"No index metadata at $f — was this directory " +
      "written by Similarity.buildIndex/buildIvfIndex?")
    val in = fs.open(f)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    import scala.jdk.CollectionConverters._
    new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](text)
      .asScala.toMap
  }

  /** Append-tally durability journal. A crash between an append's
    * parquet commit and its meta update would silently drop the
    * batch's mass from `appendedCounts`, making drift retrain fire
    * late. So each append writes its per-cell tally delta to a
    * uniquely-named sidecar BEFORE the data append and removes it only
    * AFTER the folded counts are durable in the meta — surviving
    * journals are therefore exactly the deltas whose meta fold is
    * unconfirmed, and the next append folds them in
    * ([[pendingTallies]]). Re-folding can only OVERcount (crash before
    * the data append itself, or a caller retrying a whole append —
    * whose duplicate members the dedup semantics tolerate as extra
    * candidates), which at worst retrains EARLY — always safe, a
    * retrain rebuilds exact state from the stored vectors — never
    * silently late. Journals ride inside the index directory
    * (underscore prefix: invisible to parquet readers, like the meta
    * sidecar) and vanish with it on a retrain swap, whose rebuild
    * resets the tallies anyway. */
  private def writeTallyJournal(spark: SparkSession, path: String,
      delta: Map[Int, Long]): Path = {
    val f = new Path(path,
      s"_graft_tally_journal_${java.util.UUID.randomUUID}.json")
    val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(f, false)
    try out.write(graft.view.Json.write(
      delta.map { case (c, n) => c.toString -> n }).getBytes("UTF-8"))
    finally out.close()
    f
  }

  /** Unconfirmed tally deltas left by crashed or retried appends (see
    * [[writeTallyJournal]]): the journal files to clear once folded,
    * and their summed per-cell delta. */
  private def pendingTallies(spark: SparkSession,
      path: String): (Seq[Path], Map[Int, Long]) = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(
      new Path(dir, "_graft_tally_journal_*.json")))
      .getOrElse(Array.empty).toSeq.map(_.getPath)
    import scala.jdk.CollectionConverters._
    val sums = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    files.foreach { f =>
      val in = fs.open(f)
      val text = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](text)
        .asScala.foreach { case (k, v) => sums(k.toInt) += v.toString.toLong }
    }
    (files, sums.toMap)
  }

  private def clearTallyJournals(spark: SparkSession,
      files: Seq[Path]): Unit =
    files.headOption.foreach { h =>
      val fs = h.getFileSystem(spark.sparkContext.hadoopConfiguration)
      files.foreach(fs.delete(_, false))
    }

  private def readMeta(spark: SparkSession, path: String): Map[String, Long] =
    readMetaRaw(spark, path).collect {
      case (k, v: Number) => k -> v.longValue()
      case (k, v: String) if v.forall(c => c.isDigit || c == '-') => k -> v.toLong
    }

  /** Incrementally add vectors to an existing persisted index — LSH
    * ([[buildIndex]]) or IVF ([[buildIvfIndex]]), dispatched on the
    * index's own metadata. Signatures/assignments are computed with
    * the INDEX's stored parameters (never the caller's), and the new
    * rows are appended into the same partition layout — no rebuild,
    * cost scales with the new batch. The caller owns id-uniqueness
    * across batches (duplicate ids would surface as duplicate
    * candidates; queries dedupe on id, so recall is unaffected but
    * bytes are wasted). */
  def appendToIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, retrainAt: Double = 0.5): Unit = {
    val spark = df.sparkSession
    val kind = readMetaRaw(spark, path).get("kind").map(_.toString)
    kind match {
      case Some("ivf") => appendToIvfIndex(df, vecCol, idCol, path, retrainAt)
      case Some("ivfpq") =>
        appendToIvfPqIndex(df, vecCol, idCol, path, retrainAt)
      case Some("semantic") =>
        appendToSemanticIndex(df, vecCol, idCol, path, retrainAt)
      case Some("lsh") | None => appendToLshIndex(df, vecCol, idCol, path)
      case Some(other) => throw new IllegalArgumentException(
        s"$path is a $other index; appendToIndex supports lsh, ivf, " +
          "ivfpq and semantic")
    }
  }

  private def appendToLshIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    val meta = readMeta(spark, path)
    val (dims, numPlanes, bandBits, buckets, seed) =
      (meta("dims").toInt, meta("numPlanes").toInt, meta("bandBits").toInt,
        meta("buckets").toInt, meta("seed"))
    // dimension mismatch must fail loudly, not append wrong-band rows
    requireDims(df, vecCol, dims)
    val sigs = signatures(df, vecCol, idCol, dims, numPlanes, bandBits, seed)
    val banded = sigs.select(col("__id").as(idCol),
      explode(col("__bands")).as("__band"))
    banded.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("__bp", pmod(col("__band"), lit(buckets.toLong)))
      .repartition(col("__bp"))
      .write.mode("append").partitionBy("__bp").parquet(path)
  }

  private def requireDims(df: DataFrame, vecCol: String, dims: Int): Unit =
    df.select(size(col(vecCol)).as("__d")).head(1).foreach { r =>
      require(r.getInt(0) == dims,
        s"Batch vectors have ${r.getInt(0)} dims; index was built with $dims")
    }

  /** Incrementally add vectors to a [[buildIvfIndex]] index: each new
    * vector is assigned to its nearest STORED centroid (squared
    * Euclidean argmin, first-index tie-break — the same rule Spark
    * ML's k-means prediction applies) and appended into the matching
    * `__c=` partition. Queries stay correct across appends because
    * probe ranking and row assignment use the same frozen centroid
    * set — but recall decays if appended data drifts from the
    * training distribution (a centroid that attracts most of the new
    * mass turns into one huge probe list). So appends are COUNTED:
    * per-centroid append tallies persist in the index meta, and once
    * total appended mass exceeds `retrainAt` × the trained mass the
    * index reclusters itself ([[retrainIvfIndex]] — a full seed-fixed
    * k-means rebuild over the index's own rows). Tallies are
    * crash-durable through a sidecar journal ([[writeTallyJournal]]):
    * a kill between the data append and the meta update cannot lose
    * the batch's mass, and a blind caller retry at worst double-counts
    * toward an EARLY retrain (its duplicate members are tolerated as
    * extra dedup candidates until the retrain rebuilds exact state).
    * Pass `retrainAt = Double.MaxValue` to keep centroids frozen forever.
    * The default (0.5) keeps recall-healing ON — a deliberate choice
    * now that the retrain swap is crash-safe: an IVF index that
    * silently degrades to 50% recall is a worse surprise than a
    * background recluster; callers needing frozen centroids (e.g.
    * reproducible probe sets) opt out explicitly. */
  def appendToIvfIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, retrainAt: Double = 0.5): Unit = {
    val spark = df.sparkSession
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("ivf"),
      s"$path is not an IVF index")
    val dims = meta("dims").toString.toInt
    requireDims(df, vecCol, dims)
    val cents = centroidsOf(meta)
    val (payload, payloadName) =
      if (meta.get("quantized").exists(_.toString.toBoolean))
        (quantizeInt8(col(vecCol)).as("__qv"), "__qv")
      else (col(vecCol), vecCol)
    // narrow (id, centroid) frame, referenced by the write join AND
    // the per-centroid tally below — persist so the 64-aggregate
    // assignment pipeline runs once
    Scope {
      val asg = Scope.cache(assignToCentroids(df, vecCol, idCol, cents))
      // tally BEFORE the write: committing an append to `path` fires
      // refreshByPath(path), which invalidates any cached plan whose
      // lineage reads the index — exactly the dedupe-then-append loop,
      // where the batch is the survivor frame of dedupAgainstIndex.
      // Collected after the write, the tally would re-evaluate the
      // batch against the already-grown index (self-collision -> zero)
      val batch = asg.groupBy("__c").agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // durability: journal this batch's delta BEFORE the data append,
      // fold any unconfirmed deltas from crashed/retried appends, and
      // clear journals only once the fold is durable in the meta
      val (journals, pending) = pendingTallies(spark, path)
      val myJournal = writeTallyJournal(spark, path, batch)
      asg.join(df.select(col(idCol), payload), col("__id") === col(idCol))
        .select(col(idCol), col(payloadName), col("__c"))
        .repartition(col("__c"))
        .write.mode("append").partitionBy("__c").parquet(path)
      val prev = appendedCountsOf(meta, cents.size)
      val appended = cents.indices.map(c =>
        prev(c) + batch.getOrElse(c, 0L) + pending.getOrElse(c, 0L))
      val trained = meta.get("trainedCount").map(_.toString.toLong).getOrElse(0L)
      writeMeta(spark, path, cleanIvfMeta(meta) +
        ("appendedCounts" -> appended))
      clearTallyJournals(spark, journals :+ myJournal)
      // retrain on DRIFT, not on every big append: pre-trainedCount
      // indexes (no baseline) never auto-retrain
      if (trained > 0 && appended.sum > retrainAt * trained)
        retrainIvfIndex(spark, path, vecCol, idCol)
    }
  }

  /** Recluster a drifted IVF index in place: read the index's own
    * rows (dequantizing if stored int8), re-run the seed-fixed
    * k-means build into a sibling scratch directory, then swap it
    * over the old one. The scratch build reads the old directory
    * lazily but every read completes before the swap (the k-means fit
    * and the partitioned write are both eager), so no materialization
    * of the corpus is needed. Append tallies reset — the new meta's
    * `trainedCount` is the full reclustered mass.
    *
    * The swap is crash-safe: the live index is renamed ASIDE
    * (`path__old`), the scratch renamed into place, then the old copy
    * deleted — at every instant a complete index exists at `path` or
    * at `path__old`, and every entry point rolls a half-finished swap
    * back ([[healSwap]]). A crash mid-rebuild leaves the live index
    * untouched (the scratch is simply overwritten next time). */
  def retrainIvfIndex(spark: SparkSession, path: String,
      vecCol: String, idCol: String): Unit = {
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("ivf"),
      s"$path is not an IVF index")
    val dims = meta("dims").toString.toInt
    val nlist = meta("nlist").toString.toInt
    val seed = meta("seed").toString.toLong
    val quantized = meta.get("quantized").exists(_.toString.toBoolean)
    val idx = spark.read.parquet(path)
    val vecs =
      if (quantized) idx.select(col(idCol), dequantizeInt8(col("__qv")).as(vecCol))
      else idx.select(col(idCol), col(vecCol))
    val scratch = path.stripSuffix("/") + "__retrain"
    buildIvfIndex(vecs, vecCol, idCol, scratch, dims, nlist = nlist,
      seed = seed, quantized = quantized)
    installRebuilt(spark, path, scratch)
  }

  /** Crash-safe install of a rebuilt index over the live one: live →
    * `path__old`, scratch → live, delete old. At every instant a
    * complete index exists at `path` or `path__old` ([[healSwap]]). */
  private def installRebuilt(spark: SparkSession, path: String,
      scratch: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val old = new Path(path.stripSuffix("/") + "__old")
    // leftover from a crash AFTER a completed swap: live is healthy,
    // the old copy is garbage
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"Failed to move $live aside for retrain")
    if (!fs.rename(new Path(scratch), live)) {
      // restore rather than leave the index headless
      fs.rename(old, live)
      throw new java.io.IOException(s"Failed to install retrained index at $live")
    }
    fs.delete(old, true)
  }

  /** Stored per-centroid append tallies, zero-filled for fresh or
    * pre-tally indexes. */
  private def appendedCountsOf(meta: Map[String, Any], nlist: Int): Seq[Long] =
    meta.get("appendedCounts") match {
      case Some(l: java.util.List[_]) =>
        import scala.jdk.CollectionConverters._
        val s = l.asScala.toSeq.map(_.toString.toLong)
        if (s.size == nlist) s else Seq.fill(nlist)(0L)
      case _ => Seq.fill(nlist)(0L)
    }

  /** Meta map with scala-typed values only (snakeyaml round-trips
    * lists as java.util.List, which the JSON writer doesn't take). */
  private def cleanIvfMeta(meta: Map[String, Any]): Map[String, Any] =
    Map("kind" -> "ivf",
      "dims" -> meta("dims").toString.toInt,
      "nlist" -> meta("nlist").toString.toInt,
      "seed" -> meta("seed").toString.toLong,
      "quantized" -> meta.get("quantized").exists(_.toString.toBoolean),
      "trainedCount" -> meta.get("trainedCount").map(_.toString.toLong).getOrElse(0L),
      "centroids" -> centroidsOf(meta).map(_.toSeq))

  /** Nearest-centroid assignment `(__id, __c)` as a MAP-ONLY kernel
    * projection ([[graft.functions.MiningKernels.nearestCentroid]]):
    * the full strict-< argmin scan runs in one whole-stage-codegen
    * loop per row — no posexplode, no `nlist`-aggregate groupBy, no
    * shuffle (r14 optimization, guide §2.4/§4; the previous explode +
    * ≤64-aggregate shape paid one exchange of dims×rows exploded
    * elements per assignment — per append batch, per semantic probe).
    * Ties pick the lowest centroid id, matching Spark ML's strict-<
    * scan; rows whose vector is null/empty/mis-sized are dropped,
    * matching the explode pipeline emitting no group for them. */
  private def assignToCentroids(df: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Array[Double]]): DataFrame =
    Par.spread(df).select(col(idCol).as("__id"),
        graft.functions.MiningKernels.nearestCentroid(col(vecCol), centroids)
          .as("__c"))
      .filter(col("__c").isNotNull)

  /** ANN top-k against a persisted [[buildIndex]] index: reads ONLY
    * the partition directories the probe set hashes into (driver-side
    * path selection — no full-table scan, no signature recompute),
    * filters to exact probed bands, dedupes candidates on id, exact
    * cosine on what's left. Build-time LSH parameters are loaded from
    * the index's own `_graft_index_meta.json`, so probes can never
    * silently mismatch the signatures they query. */
  def annTopKIndexed(spark: SparkSession, path: String, vecCol: String,
      idCol: String, query: Seq[Float], k: Int,
      probeLevel: Int = 1): DataFrame = {
    val kind = readMetaRaw(spark, path).get("kind").map(_.toString)
    require(kind.forall(_ == "lsh"), // absent = pre-kind LSH index
      s"$path is a ${kind.getOrElse("?")} index; use the matching query API")
    val meta = readMeta(spark, path)
    val (numPlanes, bandBits, buckets, seed) =
      (meta("numPlanes").toInt, meta("bandBits").toInt,
        meta("buckets").toInt, meta("seed"))
    require(query.size == meta("dims").toInt,
      s"Query vector has ${query.size} dims; index was built with ${meta("dims")}")
    val probes = queryProbes(query, query.size, numPlanes, bandBits, seed, probeLevel)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = probes.map(bucketOf(_, buckets)).distinct
      .map(b => new Path(root, s"__bp=$b"))
      .filter(fs.exists(_)).map(_.toString)
    val idx =
      if (dirs.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(dirs: _*)
    val cands = idx.filter(col("__band").isin(probes: _*))
      .select(col(idCol), col(vecCol)).dropDuplicates(idCol)
    bruteForceTopK(cands, vecCol, idCol, query, k)
  }

  // ------------------------------------------------------------- IVF

  /** Build a persisted IVF (inverted-file) ANN index: a k-means coarse
    * quantizer assigns every vector to its nearest centroid, and the
    * index is written partitioned by centroid id. The complementary
    * scale path to the sign-LSH index: LSH wins on hash-cheap inserts
    * and tunable collision rates; IVF wins on recall per probed byte
    * for clustered data (probe lists follow the data distribution).
    *
    * Centroids are persisted next to the index (driver-readable — they
    * are `nlist × dims` doubles), so queries rank probe lists without
    * any Spark job. Training is a driver-local seeded k-means over a
    * BOUNDED sample ([[LocalKMeans]] — r14 optimization, guide §1.2:
    * the previous Spark-ML fit paid init + maxIter full Spark jobs to
    * cluster a training set that is small by design); assignment is a
    * map-only codegen kernel projection, one clustered partitioned
    * write. The whole build is now sample-collect + count + ONE
    * distributed pass over the corpus. */
  def buildIvfIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
      dims: Int, nlist: Int = 64, maxIter: Int = 10, seed: Long = 42L,
      quantized: Boolean = false): Unit = {
    val proj = Par.spread(df).select(col(idCol), col(vecCol))
    val (sample, total) = LocalKMeans.sampleVectors(proj, vecCol, seed)
    val centroids = LocalKMeans.fit(sample, nlist, maxIter, seed)
    val assigned = proj.withColumn("__c",
        graft.functions.MiningKernels.nearestCentroid(col(vecCol),
          centroids.toSeq))
      .filter(col("__c").isNotNull)
    // quantized: store per-vector symmetric int8 (scale + tinyints)
    // instead of the float array — ~4× less index IO per probe at
    // unchanged recall shape; scoring dequantizes on read (the usual
    // asymmetric scheme: full-precision query, quantized corpus)
    val stored = if (quantized)
      assigned.select(col(idCol), quantizeInt8(col(vecCol)).as("__qv"),
        col("__c"))
    else assigned
    stored.repartition(col("__c"))
      .write.mode("overwrite").partitionBy("__c").parquet(path)
    writeMeta(df.sparkSession, path,
      Map("kind" -> "ivf", "dims" -> dims, "nlist" -> nlist, "seed" -> seed,
        "quantized" -> quantized,
        // trained mass + per-centroid append tallies: the drift
        // baseline appendToIvfIndex's retrain trigger compares against
        // (the full corpus count, not the training-sample size)
        "trainedCount" -> total,
        "appendedCounts" -> Seq.fill(nlist)(0L),
        "centroids" -> centroids.map(_.toSeq).toSeq))
  }

  /** Centroids from an IVF index's metadata map.
    * toString.toDouble, not Number cast: snakeyaml's YAML-1.1 float
    * resolver types "1.23E7" (no signed exponent) as a String. */
  private def centroidsOf(meta: Map[String, Any]): Seq[Array[Double]] = {
    import scala.jdk.CollectionConverters._
    meta("centroids").asInstanceOf[java.util.List[java.util.List[Object]]]
      .asScala.toSeq.map(_.asScala.map(_.toString.toDouble).toArray)
  }

  /** ANN top-k against a [[buildIvfIndex]] index: ranks centroids
    * against the query ON THE DRIVER (centroids ride in the index
    * meta), reads only the `nprobe` nearest centroid partitions, exact
    * cosine on those lists. A [[buildSemanticIndex]] index probes
    * through the same path (pass `vecCol = "__nv"`): its layout IS an
    * unquantized IVF over stored L2-normalized vectors, and cosine is
    * normalization-invariant — this is what makes semantic-index
    * recall measurable ([[recallAtK]]). */
  def ivfTopK(spark: SparkSession, path: String, vecCol: String,
      idCol: String, query: Seq[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString)
        .exists(Set("ivf", "semantic")),
      s"$path is not an IVF-layout (ivf/semantic) index")
    require(query.size == meta("dims").toString.toInt,
      s"Query vector has ${query.size} dims; index was built with ${meta("dims")}")
    val centroids = centroidsOf(meta)
    val qd = query.map(_.toDouble).toArray
    val probed = centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val x = c(j) - qd(j); d += x * x; j += 1 }
        (i, d)
      }
      .sortBy(_._2).take(math.max(1, nprobe)).map(_._1)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = probed.map(c => new Path(root, s"__c=$c"))
      .filter(fs.exists(_)).map(_.toString)
    val idx =
      if (dirs.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(dirs.toSeq: _*)
    if (meta.get("quantized").exists(_.toString.toBoolean)) {
      // int8 direct scoring ([[graft.functions.VectorKernels.cosineI8]]):
      // cosine is invariant under the quantizer's per-vector positive
      // scale, so the probe ranks against the raw tinyint codes in
      // place — no dequantize multiply, no cast, no per-row array
      // allocation in the hot loop (the probe's inner kernel at scale)
      val q = array(query.map(v => lit(v.toDouble)): _*)
      Par.spread(idx).select(col(idCol),
          graft.functions.VectorKernels.cosineI8(q,
            col("__qv").getField("q")).as("sim"))
        .orderBy(col("sim").desc, col(idCol)).limit(k)
    } else
      bruteForceTopK(idx.select(col(idCol), col(vecCol)), vecCol, idCol,
        query, k)
  }


  /** Dedup a new batch of vectors AGAINST a persisted [[buildIndex]]
    * LSH index — the embedding twin of [[Dedup.dedupAgainstIndex]]:
    * drops batch vectors whose cosine with some indexed vector is >=
    * `threshold`; batch-internal near-dups are untouched (compose with
    * [[cosineDedup]] for those).
    *
    * Scale shape (batch-proportional, corpus never re-signed): batch
    * signatures are computed with the INDEX's stored parameters, the
    * probe reads ONLY the `__bp` partition directories the batch's
    * band values hash into (driver-side path selection over ≤`buckets`
    * longs), candidates join on exact band value, and the verify is
    * one exact-cosine filter over (batch id, corpus id) candidates —
    * the index stores vectors, so no join back to the corpus table. */
  def dedupAgainstIndex(newDf: DataFrame, vecCol: String, idCol: String,
      path: String, threshold: Double): DataFrame = {
    val spark = newDf.sparkSession
    val kind = readMetaRaw(spark, path).get("kind").map(_.toString)
    require(kind.forall(_ == "lsh"), // absent = pre-kind LSH index
      s"$path is a ${kind.getOrElse("?")} index; dedupAgainstIndex probes lsh")
    val meta = readMeta(spark, path)
    val (dims, numPlanes, bandBits, buckets, seed) =
      (meta("dims").toInt, meta("numPlanes").toInt, meta("bandBits").toInt,
        meta("buckets").toInt, meta("seed"))
    // checkpointed: referenced by the driver-side bucket
    // collect AND the candidate join; its lineage is the full explode +
    // 64-aggregate signature pipeline
    val banded = Scope.checkpoint(
      signatures(newDf, vecCol, idCol, dims, numPlanes, bandBits, seed)
        .select(col("__id"), explode(col("__bands")).as("__band"))
        .withColumn("__bp", pmod(col("__band"), lit(buckets.toLong))))
    // driver-side bucket pruning: ≤`buckets` longs
    val probed = banded.select("__bp").distinct()
      .collect().map(_.getLong(0)).toSet
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = probed.toSeq.sorted.map(b => new Path(root, s"__bp=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) return newDf
    val idx = spark.read.parquet(dirs: _*)
    val cands = banded.join(
        idx.select(col(idCol).as("__cid"), col("__band"),
          col(vecCol).as("__cv")),
        Seq("__band"))
      .dropDuplicates("__id", "__cid")
    val newVecs = newDf.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__nv"))
    val doomed = cands.join(newVecs, Seq("__id"))
      .filter(cosine(col("__nv"), col("__cv").cast("array<double>")) >= threshold)
      .select(col("__id").as(idCol)).distinct()
    newDf.join(doomed, Seq(idCol), "left_anti")
  }

  /** Semantic benchmark DECONTAMINATION: drop every corpus row whose
    * `vecCol` embedding has cosine ≥ `threshold` against ANY vector of
    * `bench` — the embedding-level twin of
    * [[Text.decontaminate]]'s n-gram overlap check. Paraphrased or
    * reformatted eval questions share no 13-gram with the training
    * text but sit next to it in embedding space; pipelines run both
    * gates before a release. Returns the SURVIVORS.
    *
    * Scale shape (default): both sides band through the sign-LSH
    * machinery — the corpus via the bulk [[signatures]] aggregate, the
    * small bench side per-row — and candidates come from a BROADCAST
    * band join (bench sets are thousands of rows; their banded explode
    * stays trivially broadcastable). Exact cosine verifies candidates
    * only, so the corpus never cross-joins the bench. Recall follows
    * the LSH collision bound: certain at cosine ≈ 1 (identical
    * signatures), decaying toward `threshold`; `exact = true` switches
    * to a broadcast nested-loop over every (row, bench) pair scored by
    * the codegen cosine kernel — a guaranteed gate, affordable when
    * corpus × bench FLOPs are (it is still shuffle-free and
    * embarrassingly parallel, just not sublinear in bench size). */
  def decontaminateSemantic(corpus: DataFrame, vecCol: String,
      idCol: String, bench: DataFrame, benchVecCol: String,
      threshold: Double, dims: Int, exact: Boolean = false,
      numPlanes: Int = 64, bandBits: Int = 16, seed: Long = 42L): DataFrame = {
    val bv = bench.select(col(benchVecCol).cast("array<double>").as("__bv"))
    val doomed =
      if (exact)
        corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
          .crossJoin(broadcast(bv))
          .filter(cosine(col("__cv"), col("__bv")) >= threshold)
          .select(idCol).distinct()
      else {
        val banded = signatures(corpus, vecCol, idCol, dims,
            numPlanes, bandBits, seed)
          .select(col("__id"), explode(col("__bands")).as("__band"))
        val bandedB = bv.select(col("__bv"),
          explode(lshBands(col("__bv"), dims, numPlanes, bandBits, seed))
            .as("__band"))
        banded.join(broadcast(bandedB), Seq("__band"))
          .select(col("__id"), col("__bv")).distinct()
          .join(corpus.select(col(idCol).as("__id"),
            col(vecCol).cast("array<double>").as("__cv")), Seq("__id"))
          .filter(cosine(col("__cv"), col("__bv")) >= threshold)
          .select(col("__id").as(idCol)).distinct()
      }
    corpus.join(doomed, Seq(idCol), "left_anti")
  }

  /** Embedding near-dedup: drop the larger id of every verified
    * near-duplicate pair (greedy canonical-smallest, same policy as
    * [[Dedup.minhashDedup]]) — one anti-join over the mined pairs. */
  def cosineDedup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dims: Int): DataFrame = {
    val doomed = cosinePairs(df, vecCol, idCol, threshold, dims)
      .select(col("idB").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** All near-duplicate embedding pairs above a cosine threshold:
    * LSH-banded buckets → in-bucket pairs via [[Dedup.bucketPairs]]
    * (all-pairs inside normal buckets; oversized buckets — a dense
    * cluster colliding in every band — degrade to star pairs against
    * the bucket's min id instead of being dropped, so dense duplicate
    * clusters still dedupe) → exact cosine verify on candidate ids
    * only. The bucket stage shuffles (id, band) longs, never the
    * vectors themselves. */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dims: Int, numPlanes: Int = 64,
      bandBits: Int = 16, maxBucket: Int = 1000, seed: Long = 42L): DataFrame = {
    val banded = signatures(df, vecCol, idCol, dims, numPlanes, bandBits, seed)
      .select(col("__id"), explode(col("__bands")).as("__band"))
    // checkpointed (see Scope): joined twice
    // below (idA and idB vector lookups); the candidate frame is tiny
    // and its lineage is the banding subplan
    val pairs = Scope.checkpoint(
      Dedup.bucketPairs(banded, Seq("__band"), maxBucket))
    val vecs = df.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    pairs
      .join(vecs.withColumnRenamed("__vid", "idA")
        .withColumnRenamed("__v", "__va"), Seq("idA"))
      .join(vecs.withColumnRenamed("__vid", "idB")
        .withColumnRenamed("__v", "__vb"), Seq("idB"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
  }

  /** Index health check: mean recall@k of a persisted ANN index
    * (LSH / IVF / IVF-PQ, dispatched on the index's own metadata)
    * against the exact brute-force answer, over `nQueries`
    * deterministically-sampled corpus vectors. The QA gate a pipeline
    * runs after building or appending to an index — recall decaying
    * across appends is how index drift (the thing
    * [[retrainIvfIndex]] heals) first shows up in production.
    * Returns one row per sampled query: (query_id, recall).
    *
    * Probe knobs per index kind: `nprobe` = coarse cells probed for
    * ivf/ivfpq; `probeLevel` = multi-probe bit-flip level for lsh.
    * Each applies only to its own kind (their semantics — cell count
    * vs hamming radius — don't translate into each other).
    *
    * Shape note: this is a driver LOOP over 2·nQueries small jobs —
    * deliberate, not an anti-pattern. Each index probe is itself
    * partition-pruned (that's the property under test), so a
    * vectorized all-queries join would read the whole index and
    * measure nothing; nQueries is a bounded QA sample, not corpus
    * scale. */
  def recallAtK(spark: SparkSession, path: String, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, nQueries: Int = 10,
      nprobe: Int = 4, probeLevel: Int = 1): DataFrame = {
    require(k > 0 && nQueries > 0, "recallAtK needs k > 0 and nQueries > 0")
    // dispatch is closed over the known index families: an unknown
    // kind must refuse here, not fall through to the LSH prober and
    // die on a missing meta key. A SEMANTIC index measures
    // within-probed-cluster recall — the number that bounds its dedup
    // miss rate (SemDeDup only compares within a cluster) — by
    // probing its IVF-shaped layout over the stored normalized
    // vectors.
    val kind = readMetaRaw(spark, path).get("kind").map(_.toString)
      .getOrElse("lsh")
    require(Set("lsh", "ivf", "ivfpq", "semantic")(kind),
      s"recallAtK supports lsh/ivf/ivfpq/semantic indexes; " +
        s"$path is kind '$kind'")
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(nQueries).collect()
    val scores = sample.toSeq.map { r =>
      val qid = r.getLong(0)
      // element-type tolerant: a corpus column of array<double> (the
      // warehouse `float` type is double-precision) samples queries
      // just as well as array<float>
      val qv = r.getSeq[Number](1).map(_.floatValue())
      val approx = (kind match {
        case "ivf" => ivfTopK(spark, path, vecCol, idCol, qv, k, nprobe)
        case "ivfpq" => ivfPqTopK(spark, path, idCol, qv, k, nprobe)
        case "semantic" => ivfTopK(spark, path, "__nv", idCol, qv, k, nprobe)
        case _ => annTopKIndexed(spark, path, vecCol, idCol, qv, k,
          probeLevel)
      }).select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
      val exact = bruteForceTopK(corpus, vecCol, idCol, qv, k)
        .select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
      (qid, if (exact.isEmpty) 1.0
            else approx.intersect(exact).size.toDouble / exact.size)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      scores.map { case (q, rec) => org.apache.spark.sql.Row(q, rec) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("recall",
          org.apache.spark.sql.types.DoubleType))))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** IVF-PQ index (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): coarse k-means cells like
    * [[buildIvfIndex]], but inside each cell the RESIDUAL
    * (vector − cell centroid) is product-quantized — split into `m`
    * subspaces, each encoded as the id of its nearest code in a
    * 256-entry per-subspace codebook — so a d-dim float32 vector
    * SCORES from `m` BYTES (d=512, m=8: 2 KB → 8 B, 256×). That is
    * the memory story that lets a 100-TB corpus's index live in RAM:
    * int8 quantization ([[buildIvfIndex]] `quantized`) buys 4×, PQ
    * buys 10-100×, at the cost of approximate distances
    * ([[ivfPqRerank]] re-ranks the top candidates exactly when
    * exactness matters). The index DIRECTORY also keeps the source
    * vectors in a separate parquet column (`__v`): probes project
    * only id/codes/cell — columnar pruning means they never read it —
    * while retrain and re-rank get true vectors without a corpus
    * join; disk is the cheap tier, the code column is the hot one.
    *
    * Training: one coarse k-means + `m` independent 1-subspace
    * k-means fits (on `trainFraction` of the residuals — at corpus
    * scale codebooks converge on a small sample; the full pass is
    * encode-only). Encoding runs as `m` model predictions inside ONE
    * projection — no per-row driver work, no UDF loops of ours.
    * Codes store as tinyint (shifted −128), one byte each in
    * Tungsten rows. */
  def buildIvfPqIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, dims: Int, nlist: Int = 64, m: Int = 8,
      codeK: Int = 256, maxIter: Int = 10, seed: Long = 42L,
      trainFraction: Double = 1.0): Unit = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    require(codeK >= 2 && codeK <= 256, s"codeK=$codeK must fit one byte")
    val dsub = dims / m
    val proj = Par.spread(df).select(col(idCol), col(vecCol))
    // Coarse quantizer AND all m codebooks train DRIVER-LOCAL on one
    // bounded sample (r14 optimization, guide §1.2). Codebook training
    // is a SMALL-DATA problem by design (PQ papers train on 1e5-1e6
    // sampled points regardless of corpus size); the previous shape —
    // a Spark-ML coarse fit, a persisted residual frame, m concurrent
    // distributed fits, then m chained transforms for the encode —
    // cost ~100 Spark jobs and a corpus persist. Now the corpus is
    // touched exactly twice (sample/count pass + encode/write pass),
    // never persisted, and the encode is ONE map-only projection
    // through the fused residual→codes kernel
    // ([[graft.functions.MiningKernels.pqCodes]]).
    val (sample0, total) = LocalKMeans.sampleVectors(proj, vecCol, seed)
    val sample =
      if (trainFraction >= 1.0) sample0
      else {
        val rnd = new scala.util.Random(seed)
        val s = sample0.filter(_ => rnd.nextDouble() < trainFraction)
        if (s.nonEmpty) s else sample0.take(1)
      }
    val centroids = LocalKMeans.fit(sample, nlist, maxIter, seed)
    // residuals of the training sample w.r.t. their coarse cell,
    // computed locally — no distributed residual frame at all
    val residuals = sample.map { p =>
      val c = centroids(LocalKMeans.nearest(p, centroids))
      val r = new Array[Double](dims)
      var i = 0
      while (i < dims) { r(i) = p(i) - c(i); i += 1 }
      r
    }
    val codebooks: Seq[Seq[Array[Double]]] = (0 until m).map { j =>
      val sub = residuals.map(r =>
        java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub))
      LocalKMeans.fit(sub, codeK, maxIter, seed + j).toSeq
    }
    // `__v` carries the source vector NEXT TO the codes: parquet is
    // columnar, so probes (which select only id/__code/__c) never read
    // it — the in-RAM/ADC story stays m bytes per vector — while
    // drift retrain ([[retrainIvfPqIndex]]) and exact re-rank get the
    // true vectors without a corpus join. Same store-the-vector trade
    // the LSH and IVF indexes already make.
    val cSeq = centroids.toSeq
    proj.withColumn("__c",
        graft.functions.MiningKernels.nearestCentroid(col(vecCol), cSeq))
      .filter(col("__c").isNotNull)
      .select(col(idCol),
        graft.functions.MiningKernels.pqCodes(col(vecCol), col("__c"),
          cSeq, codebooks).as("__code"),
        col(vecCol).as("__v"), col("__c"))
      .repartition(col("__c"))
      .write.mode("overwrite").partitionBy("__c").parquet(path)
    writeMeta(df.sparkSession, path,
      Map("kind" -> "ivfpq", "dims" -> dims, "nlist" -> nlist, "m" -> m,
        "codeK" -> codeK, "seed" -> seed,
        "trainFraction" -> trainFraction,
        // drift baseline, same contract as buildIvfIndex: trained mass
        // + per-coarse-cell append tallies for the retrain trigger
        "trainedCount" -> total,
        "appendedCounts" -> Seq.fill(nlist)(0L),
        "centroids" -> centroids.map(_.toSeq).toSeq,
        "codebooks" -> codebooks.map(_.map(_.toSeq))))
  }

  private def codebooksOf(meta: Map[String, Any]): Seq[Seq[Array[Double]]] = {
    import scala.jdk.CollectionConverters._
    meta("codebooks").asInstanceOf[java.util.List[Any]].asScala.toSeq
      .map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq
        .map(_.asInstanceOf[java.util.List[Any]].asScala
          .map(_.toString.toDouble).toArray))
  }

  /** ANN top-k against a [[buildIvfPqIndex]] index: probe the
    * `nprobe` nearest coarse cells (driver-side centroid scan, reads
    * ONLY those partition directories), then score every member by
    * Asymmetric Distance Computation — per probed cell, the
    * per-subspace table `‖q_res[j] − codebook[j][code]‖²` is
    * precomputed ON THE DRIVER (nprobe × m × codeK doubles) and
    * folded into the plan as literals, so a row's approximate
    * distance is `m` array lookups + adds inside codegen; top-k is
    * TakeOrdered. Returns (id, __adc) — approximate distances, rank
    * candidates then re-rank exactly if the use case needs it. */
  def ivfPqTopK(spark: SparkSession, path: String, idCol: String,
      query: Seq[Float], k: Int, nprobe: Int = 4): DataFrame =
    pqProbedWithAdc(spark, path, query, nprobe) match {
      case None =>
        spark.emptyDataFrame.select(lit(0L).as(idCol),
          lit(0.0).as("__adc")).limit(0)
      case Some((idx, adc)) =>
        idx.select(col(idCol), adc.as("__adc"))
          .orderBy(col("__adc"), col(idCol)).limit(k)
    }

  /** Shared probe machinery for [[ivfPqTopK]] / [[ivfPqRerank]]: the
    * probed-cells frame plus the ADC distance column over it; None
    * when no probed cell directory exists. */
  private def pqProbedWithAdc(spark: SparkSession, path: String,
      query: Seq[Float], nprobe: Int): Option[(DataFrame, Column)] = {
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("ivfpq"),
      s"$path is not an IVF-PQ index")
    val dims = meta("dims").toString.toInt
    val m = meta("m").toString.toInt
    require(query.size == dims,
      s"Query vector has ${query.size} dims; index was built with $dims")
    val dsub = dims / m
    val centroids = centroidsOf(meta)
    val codebooks = codebooksOf(meta)
    val qd = query.map(_.toDouble).toArray
    val probed = centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val x = c(j) - qd(j); d += x * x; j += 1 }
      (i, d)
    }.sortBy(_._2).take(math.max(1, nprobe)).map(_._1)
    // ADC tables per probed cell: residual of q w.r.t. THAT cell
    val tables: Seq[Seq[Seq[Double]]] = probed.map { c =>
      val cent = centroids(c)
      (0 until m).map { j =>
        codebooks(j).map { code =>
          var d = 0.0; var t = 0
          while (t < dsub) {
            val x = (qd(j * dsub + t) - cent(j * dsub + t)) - code(t)
            d += x * x; t += 1
          }
          d
        }.toSeq
      }
    }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = probed.map(c => new Path(root, s"__c=$c"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) return None
    // basePath keeps the __c partition column alive when reading
    // specific cell directories (each row needs it to pick its cell's
    // ADC table)
    val idx = spark.read.option("basePath", path).parquet(dirs.toSeq: _*)
    // row's probe position (cells are few: a literal when-chain)
    val probePos = probed.zipWithIndex.tail.foldLeft(
        when(col("__c") === probed.head, lit(0))) { case (acc, (c, i)) =>
      acc.when(col("__c") === c, lit(i))
    }
    val tLit = typedlit(tables)
    val adc = Hof.bind(element_at(tLit, probePos + 1), cellTable =>
      (0 until m).map(j =>
        element_at(element_at(cellTable, j + 1),
          element_at(col("__code"), j + 1).cast("int") + 128 + 1))
        .reduce(_ + _))
    Some((idx, adc))
  }

  /** Meta map with scala-typed values only (the ivfpq twin of
    * [[cleanIvfMeta]]). */
  private def cleanPqMeta(meta: Map[String, Any]): Map[String, Any] =
    Map("kind" -> "ivfpq",
      "dims" -> meta("dims").toString.toInt,
      "nlist" -> meta("nlist").toString.toInt,
      "m" -> meta("m").toString.toInt,
      "codeK" -> meta("codeK").toString.toInt,
      "seed" -> meta("seed").toString.toLong,
      "trainFraction" -> meta.get("trainFraction")
        .map(_.toString.toDouble).getOrElse(1.0),
      "trainedCount" -> meta.get("trainedCount")
        .map(_.toString.toLong).getOrElse(0L),
      "centroids" -> centroidsOf(meta).map(_.toSeq),
      "codebooks" -> codebooksOf(meta).map(_.map(_.toSeq)))

  /** Incrementally add vectors to a [[buildIvfPqIndex]] index: assign
    * each new vector to its nearest STORED coarse centroid, encode its
    * residual through the STORED per-subspace codebooks (the fused
    * residual→codes codegen kernel
    * [[graft.functions.MiningKernels.pqCodes]] — r14 optimization:
    * the previous per-row HOF fold ran interpreted, re-slicing the
    * codebook literal per code; the kernel runs the same strict-<
    * argmin inside whole-stage codegen, and build and append now
    * encode through IDENTICAL arithmetic),
    * and append into the matching `__c=` partition — queries stay
    * correct across appends because probe ranking, row assignment and
    * ADC tables all use the same frozen centroids/codebooks. Appends
    * are tallied per cell exactly like [[appendToIvfIndex]]; once the
    * appended mass exceeds `retrainAt` × the trained mass the index
    * reclusters itself ([[retrainIvfPqIndex]]). Pass
    * `retrainAt = Double.MaxValue` to keep it frozen forever. */
  def appendToIvfPqIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, retrainAt: Double = 0.5): Unit = {
    val spark = df.sparkSession
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("ivfpq"),
      s"$path is not an IVF-PQ index")
    val dims = meta("dims").toString.toInt
    requireDims(df, vecCol, dims)
    val cents = centroidsOf(meta)
    val codebooks = codebooksOf(meta)
    Scope {
      val asg = Scope.cache(assignToCentroids(df, vecCol, idCol, cents))
      // tally BEFORE the write (see appendToIvfIndex: the commit's
      // refreshByPath would invalidate a batch whose lineage reads
      // this index, and a post-write re-evaluation self-collides)
      val batch = asg.groupBy("__c").agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // durability journal — see appendToIvfIndex
      val (journals, pending) = pendingTallies(spark, path)
      val myJournal = writeTallyJournal(spark, path, batch)
      asg.join(df.select(col(idCol), col(vecCol)), col("__id") === col(idCol))
        .select(col(idCol),
          graft.functions.MiningKernels.pqCodes(col(vecCol), col("__c"),
            cents, codebooks).as("__code"),
          col(vecCol).as("__v"), col("__c"))
        .repartition(col("__c"))
        .write.mode("append").partitionBy("__c").parquet(path)
      val prev = appendedCountsOf(meta, cents.size)
      val appended = cents.indices.map(c =>
        prev(c) + batch.getOrElse(c, 0L) + pending.getOrElse(c, 0L))
      val trained = meta.get("trainedCount").map(_.toString.toLong).getOrElse(0L)
      writeMeta(spark, path, cleanPqMeta(meta) +
        ("appendedCounts" -> appended))
      clearTallyJournals(spark, journals :+ myJournal)
      if (trained > 0 && appended.sum > retrainAt * trained)
        retrainIvfPqIndex(spark, path, idCol)
    }
  }

  /** Recluster a drifted IVF-PQ index in place, crash-safe like
    * [[retrainIvfIndex]]: read the index's own stored `__v` vectors,
    * re-run the full seed-fixed build (coarse k-means + codebook
    * fits + re-encode) into a sibling scratch, swap it over the live
    * one. Training from the TRUE vectors — not code reconstructions —
    * matters precisely in the drift case this exists for: appended
    * residuals outside the trained codebooks' range clamp to the
    * nearest code, so reconstructions of drifted data collapse back
    * toward the stale centroids and a reconstruction-trained rebuild
    * could never find the new mass. */
  def retrainIvfPqIndex(spark: SparkSession, path: String,
      idCol: String): Unit = {
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("ivfpq"),
      s"$path is not an IVF-PQ index")
    val idx = spark.read.parquet(path)
    val scratch = path.stripSuffix("/") + "__retrain"
    buildIvfPqIndex(idx.select(col(idCol), col("__v")), "__v", idCol,
      scratch, dims = meta("dims").toString.toInt,
      nlist = meta("nlist").toString.toInt,
      m = meta("m").toString.toInt,
      codeK = meta("codeK").toString.toInt,
      seed = meta("seed").toString.toLong,
      trainFraction = meta.get("trainFraction")
        .map(_.toString.toDouble).getOrElse(1.0))
    installRebuilt(spark, path, scratch)
  }

  /** Exact re-rank over PQ candidates — the standard two-stage ANN
    * serving shape: the quantized index prunes corpus → `kCoarse`
    * candidates by approximate ADC distance (m byte-code lookups per
    * row, the only thing the probe reads for the full cell), then the
    * exact cosine kernel runs on those kCoarse rows alone, reading
    * their true vectors from the index's own `__v` column (stored
    * columnar next to the codes, so only the kCoarse surviving rows
    * ever materialize a float vector — no corpus scan, no join).
    * Returns the usual (id, sim) exact top-k. */
  def ivfPqRerank(spark: SparkSession, path: String, vecCol: String,
      idCol: String, query: Seq[Float], k: Int,
      kCoarse: Int = 0, nprobe: Int = 4): DataFrame = {
    val kc = if (kCoarse > 0) kCoarse else math.max(10 * k, 100)
    require(kc >= k, s"kCoarse=$kc must be >= k=$k")
    pqProbedWithAdc(spark, path, query, nprobe) match {
      case None =>
        spark.emptyDataFrame.select(lit(0L).as(idCol),
          lit(0.0).as("sim")).limit(0)
      case Some((idx, adc)) =>
        val cands = idx.select(col(idCol), col("__v"), adc.as("__adc"))
          .orderBy(col("__adc"), col(idCol)).limit(kc)
        bruteForceTopK(cands.select(col(idCol), col("__v").as(vecCol)),
          vecCol, idCol, query, k)
    }
  }

  // ------------------------------------------------------ semantic dedup


  /** SemDeDup-style near-duplicate pairs WITHIN caller-assigned
    * clusters (Abbas et al. 2023, arXiv:2303.09540: cluster the
    * embedding space, then only compare inside a cluster — n²/k
    * comparisons instead of n², the trick that makes semantic dedup
    * tractable at corpus scale). The cluster column is an input:
    * a trained k-means assignment ([[semanticDedupAuto]]), a topic /
    * source label, or any partitioning the pipeline trusts to
    * separate non-duplicates. Candidate generation reuses
    * [[Dedup.bucketPairs]] keyed on the cluster — all-pairs inside
    * normal clusters, star-pairs against the cluster's min id for
    * clusters above `maxCluster` (a pathological mega-cluster must
    * degrade, not OOM) — so only (id, cluster) longs shuffle; the
    * vectors join in for the exact cosine verify on candidates
    * only. */
  def semanticPairs(df: DataFrame, vecCol: String, idCol: String,
      clusterCol: String, threshold: Double,
      maxCluster: Int = 1000): DataFrame = {
    // null cluster = unknown assignment: excluded from pairing (the
    // SQL-join semantics of `a.cluster = b.cluster` — nulls never
    // match each other; a null-cluster mega-group would also defeat
    // the whole within-cluster bound)
    val keyed = df.filter(col(clusterCol).isNotNull)
      .select(col(idCol).as("__id"), col(clusterCol).as("__k"))
    val pairs = Scope.checkpoint(
      Dedup.bucketPairs(keyed, Seq("__k"), maxCluster))
    val vecs = df.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    pairs
      .join(vecs.withColumnRenamed("__vid", "idA")
        .withColumnRenamed("__v", "__va"), Seq("idA"))
      .join(vecs.withColumnRenamed("__vid", "idB")
        .withColumnRenamed("__v", "__vb"), Seq("idB"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), col("cosine"))
  }

  /** [[semanticPairs]] applied: drop the larger id of every verified
    * within-cluster near-duplicate pair (greedy canonical-smallest,
    * the same policy as [[cosineDedup]] / [[Dedup.minhashDedup]]). */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      clusterCol: String, threshold: Double,
      maxCluster: Int = 1000): DataFrame = {
    val doomed = semanticPairs(df, vecCol, idCol, clusterCol, threshold,
        maxCluster)
      .select(col("idB").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** One-call SemDeDup: train seed-fixed k-means over the L2-NORMALIZED
    * embeddings (normalization first, so Euclidean k-means clusters by
    * direction — the cosine geometry the dedup threshold lives in),
    * assign every row, then within-cluster dedup. The clustering is an
    * approximation by design: a near-duplicate pair split across two
    * clusters is missed (the paper's trade-off) — raise `k` for
    * cheaper clusters, lower it for better recall. */
  def semanticDedupAuto(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, k: Int = 64, maxIter: Int = 10, seed: Long = 42L,
      maxCluster: Int = 1000): DataFrame = {
    // driver-local seeded fit over a bounded normalized sample +
    // map-only kernel assignment (r14 optimization — see
    // [[LocalKMeans]]; the Spark-ML fit paid init+maxIter jobs here)
    val feat = Par.spread(df).withColumn("__nvtmp", l2Normalize(col(vecCol)))
    val (sample, _) = LocalKMeans.sampleVectors(feat, "__nvtmp", seed)
    val centroids = LocalKMeans.fit(sample, k, maxIter, seed)
    // checkpointed (see Scope): the assigned frame feeds the
    // pair keying AND both vector lookups in semanticPairs — without
    // it each reference replays the normalize+assign over the scan
    val assigned = Scope.checkpoint(
      feat.withColumn("__semcluster",
          graft.functions.MiningKernels.nearestCentroid(col("__nvtmp"),
            centroids.toSeq))
        .drop("__nvtmp"))
    semanticDedup(assigned, vecCol, idCol, "__semcluster",
      threshold, maxCluster)
      .drop("__semcluster")
  }


  /** Persist the SemDeDup clustering as an index, so semantic dedup
    * gets the same incremental cross-corpus story the exact / minhash /
    * LSH-cosine families have: seed-fixed k-means over the
    * L2-NORMALIZED embeddings (Euclidean k-means on the unit sphere
    * clusters by direction — the cosine geometry the dedup threshold
    * lives in), members written as `(idCol, __nv normalized vector,
    * __c)` partitioned by cluster, centroids persisted in the index
    * meta so batch assignment needs no Spark-side model object. */
  def buildSemanticIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, k: Int = 64, maxIter: Int = 10, seed: Long = 42L): Unit = {
    // driver-local seeded fit over a bounded normalized sample +
    // map-only kernel assignment (r14 optimization — see
    // [[LocalKMeans]]); the whole build is sample/count + one
    // distributed pass over the corpus
    val dims = df.select(size(col(vecCol))).head().getInt(0)
    val feat = Par.spread(df).select(col(idCol),
        l2Normalize(col(vecCol)).as("__nv"))
    val (sample, total) = LocalKMeans.sampleVectors(feat, "__nv", seed)
    val centroids = LocalKMeans.fit(sample, k, maxIter, seed)
    feat.withColumn("__c",
        graft.functions.MiningKernels.nearestCentroid(col("__nv"),
          centroids.toSeq))
      .filter(col("__c").isNotNull)
      .select(col(idCol), col("__nv"), col("__c"))
      .repartition(col("__c"))
      .write.mode("overwrite").partitionBy("__c").parquet(path)
    writeMeta(df.sparkSession, path,
      Map("kind" -> "semantic", "dims" -> dims, "k" -> k, "seed" -> seed,
        // drift baseline for appendToSemanticIndex's retrain trigger
        // (the full corpus count, not the training-sample size)
        "trainedCount" -> total,
        "appendedCounts" -> Seq.fill(k)(0L),
        "centroids" -> centroids.map(_.toSeq).toSeq))
  }

  /** Grow a [[buildSemanticIndex]] index with a new batch — the write
    * half of the incremental loop (dedupe the batch against the index,
    * then append the survivors so the NEXT batch dedupes against them
    * too): rows normalize and assign to the STORED centroids, append
    * into the matching `__c=` partitions, and per-cluster tallies
    * drive the same retrain-on-drift contract as the IVF family —
    * once appended mass exceeds `retrainAt` × the trained mass, the
    * clustering refits from the index's own stored normalized vectors
    * (crash-safe scratch build + swap). Drift matters here as RECALL:
    * semantic dedup only compares within a cluster, so a batch
    * distribution the trained centroids don't separate well degrades
    * candidate quality until a retrain re-partitions the sphere. */
  def appendToSemanticIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, retrainAt: Double = 0.5): Unit = {
    val spark = df.sparkSession
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("semantic"),
      s"$path is not a semantic index (buildSemanticIndex)")
    requireDims(df, vecCol, meta("dims").toString.toInt)
    val cents = centroidsOf(meta)
    val norm = df.select(col(idCol), l2Normalize(col(vecCol)).as("__nv"))
    Scope {
      val asg = Scope.cache(assignToCentroids(norm, "__nv", idCol, cents))
      // tally BEFORE the write (see appendToIvfIndex: the commit's
      // refreshByPath would invalidate a batch whose lineage reads
      // this index — the standard dedupe-survivors-then-append loop —
      // and a post-write re-evaluation self-collides to zero)
      val batch = asg.groupBy("__c").agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // durability journal — see appendToIvfIndex
      val (journals, pending) = pendingTallies(spark, path)
      val myJournal = writeTallyJournal(spark, path, batch)
      asg.join(norm, col("__id") === col(idCol))
        .select(col(idCol), col("__nv"), col("__c"))
        .repartition(col("__c"))
        .write.mode("append").partitionBy("__c").parquet(path)
      val prev = appendedCountsOf(meta, cents.size)
      val appended = cents.indices.map(c =>
        prev(c) + batch.getOrElse(c, 0L) + pending.getOrElse(c, 0L))
      val trained = meta.get("trainedCount").map(_.toString.toLong).getOrElse(0L)
      writeMeta(spark, path, cleanSemanticMeta(meta) +
        ("appendedCounts" -> appended))
      clearTallyJournals(spark, journals :+ myJournal)
      if (trained > 0 && appended.sum > retrainAt * trained)
        retrainSemanticIndex(spark, path, idCol)
    }
  }

  /** Recluster a drifted semantic index from its own stored normalized
    * vectors, crash-safe like [[retrainIvfIndex]]. */
  def retrainSemanticIndex(spark: SparkSession, path: String,
      idCol: String): Unit = {
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("semantic"),
      s"$path is not a semantic index (buildSemanticIndex)")
    val idx = spark.read.parquet(path)
    val scratch = path.stripSuffix("/") + "__retrain"
    // __nv is already L2-normalized; buildSemanticIndex re-normalizes,
    // which is idempotent on unit vectors
    buildSemanticIndex(idx.select(col(idCol), col("__nv")), "__nv", idCol,
      scratch, k = meta("k").toString.toInt,
      seed = meta("seed").toString.toLong)
    installRebuilt(spark, path, scratch)
  }

  /** Meta map with scala-typed values only (the semantic twin of
    * [[cleanIvfMeta]]). */
  private def cleanSemanticMeta(meta: Map[String, Any]): Map[String, Any] =
    Map("kind" -> "semantic",
      "dims" -> meta("dims").toString.toInt,
      "k" -> meta("k").toString.toInt,
      "seed" -> meta("seed").toString.toLong,
      "trainedCount" -> meta.get("trainedCount")
        .map(_.toString.toLong).getOrElse(0L),
      "centroids" -> centroidsOf(meta).map(_.toSeq))

  /** Cross-corpus SemDeDup: drop batch rows whose cosine with an
    * indexed corpus member of the SAME k-means cluster reaches
    * `threshold` — [[semanticDedup]]'s within-cluster bound, applied
    * batch-vs-corpus (Abbas et al. 2023 trade: a near-duplicate pair
    * split across two clusters is missed; identical-direction copies
    * always share their original's argmin centroid).
    *
    * Scale shape (batch-proportional, corpus never re-clustered or
    * re-scanned): batch vectors normalize and assign to the STORED
    * centroids through the same 64-aggregate pipeline the IVF family
    * uses, the probe reads ONLY the `__c=` partition directories the
    * batch assigned into (driver-side path selection over ≤ k ints),
    * and the exact-cosine verify joins batch×members within matching
    * clusters only — the n²/k candidate bound. */
  def semanticDedupAgainstIndex(newDf: DataFrame, vecCol: String,
      idCol: String, path: String, threshold: Double): DataFrame = {
    val spark = newDf.sparkSession
    val meta = readMetaRaw(spark, path)
    require(meta.get("kind").map(_.toString).contains("semantic"),
      s"$path is not a semantic index (buildSemanticIndex)")
    requireDims(newDf, vecCol, meta("dims").toString.toInt)
    val cents = centroidsOf(meta)
    val norm = newDf.select(col(idCol).as("__bid"),
      l2Normalize(col(vecCol)).as("__nv"))
    // checkpointed: the assigned batch feeds the driver-side
    // cluster collect AND the verify join; its lineage is the
    // normalize + 64-aggregate assignment pipeline
    val asgv = Scope.checkpoint(
      norm.join(assignToCentroids(norm, "__nv", "__bid", cents)
        .withColumnRenamed("__id", "__bid"), Seq("__bid")))
    val probed = asgv.select("__c").distinct()
      .collect().map(_.getInt(0)).toSet
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = probed.toSeq.sorted.map(c => new Path(root, s"__c=$c"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.isEmpty) return newDf
    // basePath keeps __c alive for the within-cluster join condition
    val idx = spark.read.option("basePath", path).parquet(dirs: _*)
    // broadcast the BATCH side: `__c` has at most k distinct values, so
    // a shuffle join would funnel each cluster's full membership into
    // one reducer — the skew cliff at corpus scale. Broadcast keeps
    // the index streaming through its pruned cluster partitions with
    // no shuffle at all (the batch is small by this API's contract)
    val doomed = broadcast(asgv)
      .join(idx.select(col("__nv").as("__cv"), col("__c")), Seq("__c"))
      .filter(cosine(col("__nv"), col("__cv")) >= threshold)
      .select(col("__bid").as(idCol)).distinct()
    newDf.join(doomed, Seq(idCol), "left_anti")
  }
}
