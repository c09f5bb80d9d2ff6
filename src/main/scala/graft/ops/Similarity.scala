package graft.ops

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
    IndexDir.write(df.sparkSession, path,
      IndexDir.LshMeta(dims, numPlanes, bandBits, buckets, seed))
  }

  /** Incrementally add rows to a persisted index of any family,
    * dispatched on the index's own metadata: minhash
    * ([[Dedup.buildMinhashIndex]]; `vecCol` names the TEXT column), lsh
    * ([[buildIndex]]) or a centroid index (ivf, ivfpq, semantic).
    * Signatures and assignments use the INDEX's stored parameters, never
    * the caller's, and rows land in the index's own layout: no
    * rebuild, cost scales with the batch. The caller owns id-uniqueness
    * across batches (duplicate ids surface as duplicate candidates;
    * queries dedupe on id, so recall is unaffected but bytes are
    * wasted).
    *
    * A centroid index assigns each row to its nearest STORED centroid
    * (squared Euclidean argmin, first-index tie-break, the rule Spark
    * ML's k-means prediction applies), encodes it the family's way and
    * appends it into that `__c=` cell. Queries stay correct because
    * probe ranking, row assignment and PQ tables use the same frozen
    * centroids and codebooks, but recall decays when appended data
    * drifts from the training distribution (a centroid attracting most
    * of the new mass becomes one huge probe list; for semantic dedup,
    * which compares only within a cluster, a poorly separated cluster
    * loses candidates). So appends are tallied per cell, crash-durably
    * ([[IndexDir.appendTallied]]), and once the appended mass exceeds
    * `retrainAt` × the trained mass the index reclusters itself
    * ([[retrainIndex]]); a meta without a trained baseline never
    * auto-retrains. `retrainAt = Double.MaxValue` keeps centroids frozen
    * (reproducible probe sets); the default 0.5 keeps recall-healing on,
    * since an index silently degrading to 50% recall is a worse surprise
    * than a recluster. */
  def appendToIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, retrainAt: Double = 0.5): Unit =
    IndexDir.read(df.sparkSession, path) match {
      case m: IndexDir.MinhashMeta =>
        Dedup.appendToMinhashIndex(df, idCol, vecCol, path, m)
      case m: IndexDir.LshMeta => appendToLshIndex(df, vecCol, idCol, path, m)
      case m: IndexDir.CentroidMeta =>
        appendToCentroidIndex(df, vecCol, idCol, path, m, retrainAt)
    }

  /** Recluster a centroid index in place from its own stored rows: the
    * seed-fixed build re-runs with the index's stored parameters into
    * the swap scratch, which then replaces the live directory
    * ([[IndexDir.rebuild]]; crash-safe). The stored vectors are the raw
    * `vecCol` (dequantized from `__qv` for an int8 IVF), IVF-PQ's `__v`
    * or semantic's normalized `__nv`. IVF-PQ trains from the TRUE
    * vectors, not code reconstructions: appended residuals outside the
    * trained codebooks' range clamp to the nearest code, so
    * reconstructions of drifted data collapse back toward the stale
    * centroids. The rebuild reads the live directory lazily, but every
    * read completes before the swap (the sample and the partitioned
    * write are both eager). Tallies reset: `trainedCount` becomes the
    * full reclustered mass. */
  def retrainIndex(spark: SparkSession, path: String, vecCol: String,
      idCol: String): Unit =
    IndexDir.read(spark, path) match {
      case m: IndexDir.CentroidMeta => retrain(spark, path, vecCol, idCol, m)
      case m => throw new IllegalArgumentException(
        s"'${m.kind}' indexes have no retrain (data-independent hashing)")
    }

  private def appendToLshIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, m: IndexDir.LshMeta): Unit = {
    // dimension mismatch must fail loudly, not append wrong-band rows
    requireDims(df, vecCol, m.dims)
    val sigs = signatures(df, vecCol, idCol, m.dims, m.numPlanes, m.bandBits,
      m.seed)
    val banded = sigs.select(col("__id").as(idCol),
      explode(col("__bands")).as("__band"))
    banded.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("__bp", pmod(col("__band"), lit(m.buckets.toLong)))
      .repartition(col("__bp"))
      .write.mode("append").partitionBy("__bp").parquet(path)
  }

  /** Width of the first non-null `vecCol` vector; None for an empty or
    * all-null frame. Nulls are skipped before sizing: with ANSI off,
    * Spark sizes a null array as -1. */
  private def firstDims(df: DataFrame, vecCol: String): Option[Int] =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0))

  /** The vector width of `df`, from its first non-null vector: what a
    * build records as the index dims. */
  def vectorDims(df: DataFrame, vecCol: String): Int =
    firstDims(df, vecCol).getOrElse(throw new IllegalArgumentException(
      s"no non-null '$vecCol' vectors to derive dims from"))

  private def requireDims(df: DataFrame, vecCol: String, dims: Int): Unit =
    firstDims(df, vecCol).foreach(d => require(d == dims,
      s"Batch vectors have $d dims; index was built with $dims"))

  // ------------------------------------------------ centroid lifecycle
  //
  // IVF, IVF-PQ and semantic indexes share one lifecycle: a seed-fixed
  // driver-local k-means over a bounded sample ([[LocalKMeans]]), each
  // row written into its nearest centroid's `__c=` cell, journaled
  // appends through the stored centroids, drift retrains. Only the
  // stored row differs ([[encoded]]).

  /** `(idCol, v)`, the vectors a family assigns: semantic indexes
    * cluster the L2-normalized `__nv` (Euclidean k-means on the unit
    * sphere clusters by direction, the cosine geometry of the dedup
    * threshold), the others the raw `vecCol`. */
  private def prepared(df: DataFrame, vecCol: String, idCol: String,
      normalize: Boolean): (DataFrame, String) =
    if (normalize) (Par.spread(df).select(col(idCol),
      l2Normalize(col(vecCol)).as("__nv")), "__nv")
    else (Par.spread(df).select(col(idCol), col(vecCol)), vecCol)

  /** Nearest-centroid assignment `__c` as a map-only codegen kernel
    * projection ([[graft.functions.MiningKernels.nearestCentroid]]; a
    * strict-< argmin, so ties pick the lowest centroid id like Spark
    * ML). Rows whose vector is null, empty or mis-sized are dropped. */
  private def assigned(frame: DataFrame, v: String,
      centroids: Seq[Array[Double]]): DataFrame =
    frame.withColumn("__c",
        graft.functions.MiningKernels.nearestCentroid(col(v), centroids))
      .filter(col("__c").isNotNull)

  /** The stored rows `(idCol, payload…, __c)` of a prepared frame. The
    * payload is the vector itself (raw or normalized `__nv`); int8 `__qv`
    * for a quantized IVF (~4× less index IO, scored in place by the
    * probe); for IVF-PQ the residual codes `__code` plus the source
    * vector `__v`, which probes never read (parquet is columnar) while
    * retrain and rerank get true vectors without a corpus join. */
  private def encoded(frame: DataFrame, v: String, idCol: String,
      meta: IndexDir.CentroidMeta): DataFrame = {
    val payload = meta match {
      case m: IndexDir.IvfMeta if m.quantized =>
        Seq(quantizeInt8(col(v)).as("__qv"))
      case m: IndexDir.IvfPqMeta => Seq(
        graft.functions.MiningKernels.pqCodes(col(v), col("__c"),
          m.centroids, m.codebooks).as("__code"),
        col(v).as("__v"))
      case _ => Seq(col(v))
    }
    assigned(frame, v, meta.centroids)
      .select((col(idCol) +: payload) :+ col("__c"): _*)
  }

  /** Rows are clustered by cell before the partitioned write; otherwise
    * every map task opens a writer per cell it touches. */
  private def writeCells(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("__c"))
      .write.mode(mode).partitionBy("__c").parquet(path)

  /** The one build tail: sample the prepared vectors, let the family
    * train its meta from the sample and the full count (the drift
    * baseline), write every row into its cell, meta last. One
    * sample/count pass plus one distributed write over the corpus. */
  private def buildCentroidIndex(df: DataFrame, vecCol: String,
      idCol: String, path: String, normalize: Boolean, seed: Long)(
      train: (Array[Array[Double]], Long) => IndexDir.CentroidMeta): Unit = {
    val (frame, v) = prepared(df, vecCol, idCol, normalize)
    val (sample, total) = LocalKMeans.sampleVectors(frame, v, seed)
    val meta = train(sample, total)
    writeCells(encoded(frame, v, idCol, meta), path, "overwrite")
    IndexDir.write(df.sparkSession, path, meta)
  }

  private def appendToCentroidIndex(df: DataFrame, vecCol: String,
      idCol: String, path: String, meta: IndexDir.CentroidMeta,
      retrainAt: Double): Unit = {
    val spark = df.sparkSession
    requireDims(df, vecCol, meta.dims)
    val (frame, v) = prepared(df, vecCol, idCol,
      meta.isInstanceOf[IndexDir.SemanticMeta])
    Scope {
      // read by the per-cell tally AND the write
      val rows = Scope.cache(encoded(frame, v, idCol, meta))
      // tally BEFORE the write: committing an append to `path` fires
      // refreshByPath(path), which invalidates any cached plan whose
      // lineage reads the index — exactly the dedupe-then-append loop,
      // where the batch is the survivor frame of a dedup against this
      // index. Collected after the write, the tally would re-evaluate
      // the batch against the grown index (self-collision -> zero)
      val batch = rows.groupBy("__c").agg(count(lit(1)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val next = IndexDir.appendTallied(spark, path, meta, batch) {
        writeCells(rows, path, "append")
      }
      if (next.trainedCount > 0 &&
          next.appendedCounts.sum > retrainAt * next.trainedCount)
        retrain(spark, path, vecCol, idCol, next)
    }
  }

  private def retrain(spark: SparkSession, path: String, vecCol: String,
      idCol: String, meta: IndexDir.CentroidMeta): Unit =
    IndexDir.rebuild(spark, path) { scratch =>
      val idx = spark.read.parquet(path)
      meta match {
        case ivf: IndexDir.IvfMeta =>
          val vec = if (ivf.quantized) dequantizeInt8(col("__qv")) else col(vecCol)
          buildIvfIndex(idx.select(col(idCol), vec.as(vecCol)), vecCol, idCol,
            scratch, ivf.dims, nlist = ivf.nlist, seed = ivf.seed,
            quantized = ivf.quantized)
        case pq: IndexDir.IvfPqMeta =>
          buildIvfPqIndex(idx.select(col(idCol), col("__v")), "__v", idCol,
            scratch, pq.dims, nlist = pq.nlist, m = pq.m, codeK = pq.codeK,
            seed = pq.seed, trainFraction = pq.trainFraction)
        // __nv is already normalized; re-normalizing is idempotent
        case sem: IndexDir.SemanticMeta =>
          buildSemanticIndex(idx.select(col(idCol), col("__nv")), "__nv",
            idCol, scratch, k = sem.k, seed = sem.seed)
      }
    }

  /** ANN top-k against a persisted [[buildIndex]] index: reads ONLY
    * the partition directories the probe set hashes into (driver-side
    * path selection — no full-table scan, no signature recompute),
    * filters to exact probed bands, dedupes candidates on id, exact
    * cosine on what's left. Build-time LSH parameters come from the
    * index's own meta, so probes can never silently mismatch the
    * signatures they query. */
  def annTopKIndexed(spark: SparkSession, path: String, vecCol: String,
      idCol: String, query: Seq[Float], k: Int,
      probeLevel: Int = 1): DataFrame = {
    val m = IndexDir.readAs[IndexDir.LshMeta](spark, path,
      "lsh; use the matching query API")
    require(query.size == m.dims,
      s"Query vector has ${query.size} dims; index was built with ${m.dims}")
    val probes = queryProbes(query, query.size, m.numPlanes, m.bandBits,
      m.seed, probeLevel)
    val dirs = IndexDir.partitions(spark, path, "__bp",
      probes.map(bucketOf(_, m.buckets)).distinct)
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
    * Centroids are persisted in the index meta (driver-readable — they
    * are `nlist × dims` doubles), so queries rank probe lists without
    * any Spark job. Training is a driver-local seeded k-means over a
    * BOUNDED sample ([[LocalKMeans]] — r14 optimization, guide §1.2:
    * the previous Spark-ML fit paid init + maxIter full Spark jobs to
    * cluster a training set that is small by design). `quantized`
    * stores per-vector symmetric int8 (scale + tinyints) instead of the
    * float array: ~4× less index IO per probe at unchanged recall shape
    * (the usual asymmetric scheme: full-precision query, quantized
    * corpus). */
  def buildIvfIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
      dims: Int, nlist: Int = 64, maxIter: Int = 10, seed: Long = 42L,
      quantized: Boolean = false): Unit =
    buildCentroidIndex(df, vecCol, idCol, path, normalize = false, seed) {
      (sample, total) =>
        IndexDir.IvfMeta(dims, nlist, seed, quantized,
          LocalKMeans.fit(sample, nlist, maxIter, seed).toSeq, total,
          Seq.fill(nlist)(0L))
    }

  /** The `nprobe` cells whose centroids are nearest the query (squared
    * Euclidean), ranked on the driver: the centroids ride in the meta. */
  private def nearestCells(meta: IndexDir.CentroidMeta, query: Seq[Float],
      nprobe: Int): Seq[Int] = {
    require(query.size == meta.dims,
      s"Query vector has ${query.size} dims; index was built with ${meta.dims}")
    val qd = query.map(_.toDouble).toArray
    meta.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val x = c(j) - qd(j); d += x * x; j += 1 }
      (i, d)
    }.sortBy(_._2).take(math.max(1, nprobe)).map(_._1)
  }

  /** ANN top-k against a [[buildIvfIndex]] index: ranks centroids
    * against the query ON THE DRIVER, reads only the `nprobe` nearest
    * centroid partitions, exact cosine on those lists. A
    * [[buildSemanticIndex]] index probes through the same path (pass
    * `vecCol = "__nv"`): its layout IS an unquantized IVF over stored
    * L2-normalized vectors, and cosine is normalization-invariant —
    * this is what makes semantic-index recall measurable
    * ([[recallAtK]]). */
  def ivfTopK(spark: SparkSession, path: String, vecCol: String,
      idCol: String, query: Seq[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val meta: IndexDir.CentroidMeta = IndexDir.read(spark, path) match {
      case m: IndexDir.IvfMeta => m
      case m: IndexDir.SemanticMeta => m
      case _ => throw new IllegalArgumentException(
        s"$path is not an IVF-layout (ivf/semantic) index")
    }
    val dirs = IndexDir.partitions(spark, path, "__c",
      nearestCells(meta, query, nprobe))
    val idx =
      if (dirs.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(dirs: _*)
    meta match {
      case m: IndexDir.IvfMeta if m.quantized =>
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
      case _ =>
        bruteForceTopK(idx.select(col(idCol), col(vecCol)), vecCol, idCol,
          query, k)
    }
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
    val m = IndexDir.readAs[IndexDir.LshMeta](spark, path,
      "lsh (dedupAgainstIndex probes lsh)")
    // checkpointed: referenced by the driver-side bucket
    // collect AND the candidate join; its lineage is the full explode +
    // 64-aggregate signature pipeline
    val banded = Scope.checkpoint(
      signatures(newDf, vecCol, idCol, m.dims, m.numPlanes, m.bandBits, m.seed)
        .select(col("__id"), explode(col("__bands")).as("__band"))
        .withColumn("__bp", pmod(col("__band"), lit(m.buckets.toLong))))
    // driver-side bucket pruning: ≤`buckets` longs
    val probed = banded.select("__bp").distinct()
      .collect().map(_.getLong(0)).toSet
    val dirs = IndexDir.partitions(spark, path, "__bp", probed.toSeq.sorted)
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
    * [[retrainIndex]] heals) first shows up in production.
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
    // dispatch is closed over the index families (an unknown kind
    // refuses at the meta read). A SEMANTIC index measures
    // within-probed-cluster recall — the number that bounds its dedup
    // miss rate (SemDeDup only compares within a cluster) — by
    // probing its IVF-shaped layout over the stored normalized
    // vectors.
    val probe: Seq[Float] => DataFrame = IndexDir.read(spark, path) match {
      case _: IndexDir.IvfMeta => ivfTopK(spark, path, vecCol, idCol, _, k, nprobe)
      case _: IndexDir.IvfPqMeta => ivfPqTopK(spark, path, idCol, _, k, nprobe)
      case _: IndexDir.SemanticMeta =>
        ivfTopK(spark, path, "__nv", idCol, _, k, nprobe)
      case _: IndexDir.LshMeta =>
        annTopKIndexed(spark, path, vecCol, idCol, _, k, probeLevel)
      case m => throw new IllegalArgumentException(
        s"recallAtK supports lsh/ivf/ivfpq/semantic indexes; " +
          s"$path is kind '${m.kind}'")
    }
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .orderBy(xxhash64(col(idCol).cast("string")), col(idCol))
      .limit(nQueries).collect()
    val scores = sample.toSeq.map { r =>
      val qid = r.getLong(0)
      // element-type tolerant: a corpus column of array<double> (the
      // warehouse `float` type is double-precision) samples queries
      // just as well as array<float>
      val qv = r.getSeq[Number](1).map(_.floatValue())
      val approx = probe(qv).select(col(idCol).cast("long")).collect()
        .map(_.getLong(0)).toSet
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
    buildCentroidIndex(df, vecCol, idCol, path, normalize = false, seed) {
      (sample0, total) =>
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
        val codebooks = (0 until m).map { j =>
          val sub = residuals.map(r =>
            java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub))
          LocalKMeans.fit(sub, codeK, maxIter, seed + j).toSeq
        }
        IndexDir.IvfPqMeta(dims, nlist, m, codeK, seed, trainFraction,
          centroids.toSeq, codebooks, total, Seq.fill(nlist)(0L))
    }
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
    val meta = IndexDir.readAs[IndexDir.IvfPqMeta](spark, path, "IVF-PQ")
    val (m, dsub) = (meta.m, meta.dims / meta.m)
    val probed = nearestCells(meta, query, nprobe)
    val qd = query.map(_.toDouble).toArray
    // ADC tables per probed cell: residual of q w.r.t. THAT cell
    val tables: Seq[Seq[Seq[Double]]] = probed.map { c =>
      val cent = meta.centroids(c)
      (0 until m).map { j =>
        meta.codebooks(j).map { code =>
          var d = 0.0; var t = 0
          while (t < dsub) {
            val x = (qd(j * dsub + t) - cent(j * dsub + t)) - code(t)
            d += x * x; t += 1
          }
          d
        }
      }
    }
    val dirs = IndexDir.partitions(spark, path, "__c", probed)
    if (dirs.isEmpty) return None
    // basePath keeps the __c partition column alive when reading
    // specific cell directories (each row needs it to pick its cell's
    // ADC table)
    val idx = spark.read.option("basePath", path).parquet(dirs: _*)
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
    * L2-NORMALIZED embeddings, members written as `(idCol, __nv
    * normalized vector, __c)` partitioned by cluster, centroids
    * persisted in the index meta so batch assignment needs no
    * Spark-side model object. Grown by [[appendToIndex]] (the write
    * half of the incremental loop: dedupe a batch against the index,
    * append the survivors so the NEXT batch dedupes against them too),
    * with the centroid lifecycle's retrain on drift. */
  def buildSemanticIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, k: Int = 64, maxIter: Int = 10, seed: Long = 42L): Unit = {
    val dims = vectorDims(df, vecCol)
    buildCentroidIndex(df, vecCol, idCol, path, normalize = true, seed) {
      (sample, total) =>
        IndexDir.SemanticMeta(dims, k, seed,
          LocalKMeans.fit(sample, k, maxIter, seed).toSeq, total,
          Seq.fill(k)(0L))
    }
  }

  /** Cross-corpus SemDeDup: drop batch rows whose cosine with an
    * indexed corpus member of the SAME k-means cluster reaches
    * `threshold` — [[semanticDedup]]'s within-cluster bound, applied
    * batch-vs-corpus (Abbas et al. 2023 trade: a near-duplicate pair
    * split across two clusters is missed; identical-direction copies
    * always share their original's argmin centroid).
    *
    * Scale shape (batch-proportional, corpus never re-clustered or
    * re-scanned): batch vectors normalize and assign to the STORED
    * centroids through the centroid lifecycle's kernel assignment, the
    * probe reads ONLY the `__c=` partition directories the batch
    * assigned into (driver-side path selection over ≤ k ints), and the
    * exact-cosine verify joins batch×members within matching clusters
    * only — the n²/k candidate bound. */
  def semanticDedupAgainstIndex(newDf: DataFrame, vecCol: String,
      idCol: String, path: String, threshold: Double): DataFrame = {
    val spark = newDf.sparkSession
    val meta = IndexDir.readAs[IndexDir.SemanticMeta](spark, path,
      "semantic (buildSemanticIndex)")
    requireDims(newDf, vecCol, meta.dims)
    val (norm, v) = prepared(newDf.withColumnRenamed(idCol, "__bid"), vecCol,
      "__bid", normalize = true)
    // checkpointed: the assigned batch feeds the driver-side
    // cluster collect AND the verify join
    val asgv = Scope.checkpoint(assigned(norm, v, meta.centroids))
    val probed = asgv.select("__c").distinct()
      .collect().map(_.getInt(0)).toSet
    val dirs = IndexDir.partitions(spark, path, "__c", probed.toSeq.sorted)
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
