package graft.ops

import graft.view.Write
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines: exact,
  * content-hash, MinHash+LSH, SimHash — all bucketed (candidate pairs
  * come from hash-bucket joins, never an all-pairs product), so each
  * stage is one shuffle keyed on something that stays small at 100 TB.
  *
  * Expensive mining intermediates are materialized with
  * [[Scope.checkpoint]]. The pair and survivor frames these ops return
  * are built on them, so they stay valid until the caller's scope
  * closes; outside any scope the ContextCleaner reclaims them once the
  * frames are unreachable.
  */
object Dedup {

  /** Exact dedup on a set of columns: keeps the row with the smallest
    * `idCol` per group. One hash-partition shuffle. */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(cols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Content-hash dedup: like [[exact]] but shuffles a 64-bit
    * fingerprint instead of the full text — at 100 TB the shuffle
    * payload is the winner. (Hash collisions: 64-bit, ~1e-9 at 1e9
    * docs; acceptable for training-data dedup.) */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    Par.spread(df).withColumn("__fp", Text.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__fp")
  }

  /** Word n-gram shingle set (distinct) of a text column. The token
    * array is let-bound ([[Hof.bind]]) so the per-gram lambda reads a
    * variable instead of re-running `split` per gram (O(L²) per doc
    * interpreted otherwise). */
  def shingles(text: Column, n: Int = 3): Column =
    Hof.bind(split(lower(trim(text)), "\\s+"), toks => {
      val grams = when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      array_distinct(grams)
    })

  /** 64-bit hashes of the word n-gram shingle set — one xxhash64 per
    * gram (single concat argument: measured 2.3x faster than hashing
    * the n token columns separately). Downstream signature/verify work
    * only needs set identity, so longs replace gram strings. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    Hof.bind(split(lower(trim(text)), "\\s+"), toks => {
      val grams = when(size(toks) < n, array(xxhash64(concat_ws(" ", toks))))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
      array_distinct(grams)
    })

  /** One row per positional word n-gram: (idCol, __nt tokens in doc,
    * __pos 0-based start, __span covered tokens, __h gram hash); short
    * docs collapse to one whole-doc gram. Shared by the duplicate-span
    * miner and its apply step. */
  private[ops] def spanGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val grams = Hof.bind(toks, t =>
      when(size(t) < n, array(struct(lit(0).as("p"), size(t).as("s"),
          xxhash64(concat_ws(" ", t)).as("h"))))
        .otherwise(transform(sequence(lit(0), size(t) - n), i =>
          struct(i.as("p"), lit(n).as("s"),
            xxhash64(concat_ws(" ", slice(t, i + 1, lit(n)))).as("h")))))
    Par.spread(df)
      .select(col(idCol), size(toks).as("__nt"), explode(grams).as("__g"))
      .select(col(idCol), col("__nt"), col("__g.p").as("__pos"),
        col("__g.s").as("__span"), col("__g.h").as("__h"))
  }

  /** Cross-document duplicate-SPAN coverage — the exact-substring
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": for each document, how much of it is
    * covered by a word `n`-gram that also occurs in at least one
    * OTHER document of the corpus (within-doc repeats alone do not
    * count — [[Text.repetition]] measures those). Returns one row per
    * document containing ≥1 duplicated gram:
    * (idCol, n_tokens, dup_tokens, dup_frac) where dup_tokens counts
    * distinct token positions covered by any duplicated gram and
    * dup_frac = dup_tokens / n_tokens rounded to 6 places — the
    * "remove or trim docs that are mostly boilerplate" input.
    * Documents shorter than `n` tokens collapse to one whole-text
    * gram spanning the document.
    *
    * Scale shape: the corpus text never shuffles — one posexplode
    * emits (id, pos, gramHash) longs; a gram is duplicated iff
    * `min(id) ≠ max(id)` for its hash (map-side-combinable min/max,
    * NO countDistinct); a doc's duplicated (pos, span) intervals
    * collect per doc (bounded by its own gram count) and the covered
    * token total comes from a per-row sorted interval-merge fold —
    * no token-level explode, no corpus-wide distinct. Two shuffles of
    * longs total (hash groupBy, hash join back). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // `g` feeds the dup-gram aggregate AND the join back: an explicit
    // repartition on the join key plants ONE exchange that both
    // references share via AQE's ReusedExchange, so the
    // tokenize+hash+explode subplan runs ONCE (it re-ran in full for
    // the join side before — measured ~2x on the 10x-corpus span
    // probe; guide §2.4)
    val g = spanGrams(df, idCol, textCol, n).repartition(col("__h"))
    val dup = g.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select(col("__h"))
    g.join(dup, Seq("__h"))
      .groupBy(col(idCol), col("__nt"))
      .agg(collect_list(struct(col("__pos").as("p"), col("__span").as("s")))
        .as("__iv"))
      .select(col(idCol), col("__nt").cast("bigint").as("n_tokens"),
        mergedIntervalLength(col("__iv")).as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** Total length of the union of half-open (p, s) intervals
    * [p, p+s): sort (struct order = lexicographic, p first), then one
    * sequential fold tracking the merged frontier. */
  private def mergedIntervalLength(ivs: Column): Column =
    Hof.bind(array_sort(ivs), sorted => {
      val acc0 = struct(lit(0).as("end"), lit(0L).as("tot"))
      aggregate(sorted, acc0, (acc, iv) => {
        val e = iv.getField("p") + iv.getField("s")
        val add = when(e > acc.getField("end"),
          e - greatest(iv.getField("p"), acc.getField("end")))
          .otherwise(lit(0))
        struct(greatest(acc.getField("end"), e).as("end"),
          (acc.getField("tot") + add).as("tot"))
      }, acc => acc.getField("tot"))
    })

  /** APPLY the duplicate-span signal: rewrite each document with its
    * cross-document duplicated spans removed, keeping the copy in the
    * LOWEST-id document containing each duplicated gram (Lee et al.
    * keep-one semantics, ownership at document granularity). Trimmed
    * documents come back whitespace-normalized (surviving original-case
    * tokens joined by single spaces; a fully-covered doc becomes the
    * empty string); untouched documents keep their text verbatim.
    * Returns (idCol, textCol) for every input row.
    *
    * Scale shape: same long-only shuffles as [[duplicateSpans]] plus
    * one join of per-doc removed-position arrays (bounded by the doc's
    * own token count, expanded from collected intervals in-row — no
    * token-level explode/distinct shuffle) back to the corpus; the
    * rewrite is a per-row indexed-lambda filter over the token array —
    * no window, no driver-side text. */
  def trimDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // shared exchange, same reasoning as [[duplicateSpans]]
    val g = spanGrams(df, idCol, textCol, n).repartition(col("__h"))
    // duplicated gram → owning (minimum) doc id; owner keeps its copy
    val dup = g.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__own"), max(col(idCol)).as("__mx"))
      .filter(col("__own") =!= col("__mx"))
      .select(col("__h"), col("__own"))
    val removed = g.join(dup, Seq("__h"))
      .filter(col(idCol) =!= col("__own"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__pos").as("p"), col("__span").as("s")))
        .as("__iv"))
      .select(col(idCol), array_distinct(flatten(transform(col("__iv"),
        iv => sequence(iv.getField("p"),
          iv.getField("p") + iv.getField("s") - 1)))).as("__rm"))
    // reconstruct from ORIGINAL-case tokens (positions align: same \s+
    // split); gram identity above is case-folded, the output is not
    val keep = filter(split(trim(col(textCol)), "\\s+"),
      (_, i) => !array_contains(col("__rm"), i))
    df.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__rm").isNull, col(textCol))
          .otherwise(concat_ws(" ", keep)).as(textCol))
  }

  /** Jaccard similarity of the (hashed) shingle sets of two text
    * columns — exact up to 64-bit hash collisions. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    // bind both shingle sets: each is referenced twice (∩ and ∪)
    Hof.bind(shingleHashes(a, n), sa =>
      Hof.bind(shingleHashes(b, n), sb =>
        size(array_intersect(sa, sb)).cast("double") /
          size(array_union(sa, sb))))
  }

  /** Affine permutation coefficients for the MinHash family
    * (seed-fixed, so signatures are deterministic across runs). */
  private def minhashCoefs(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** MinHash signature (`numHashes` 64-bit mins) over the shingle set,
    * as a single array column — the same
    * [[graft.functions.MiningKernels.minhashMins]] codegen kernel the
    * bulk mining path uses (r14: previously 128 per-row array lambdas,
    * which overflowed codegen and ran interpreted). */
  def minhashSignature(text: Column, numHashes: Int = 128, shingleSize: Int = 3): Column =
    graft.functions.MiningKernels.minhashMins(
      shingleHashes(text, shingleSize), minhashCoefs(numHashes))

  /** Candidate pairs from LSH buckets, shared by [[minhashPairs]],
    * [[simhashPairs]], [[Similarity.cosinePairs]] and
    * [[Similarity.semanticPairs]]. `banded` holds one `__id` per bucket
    * row; `bucketCols` name the bucket key.
    *
    * Normal buckets (2..maxBucket members) emit all in-bucket pairs
    * (sorted ids, so idA < idB). Oversized buckets — a dense cluster
    * of near-identical items collides in EVERY band, so a drop-it
    * policy would silently lose exactly the densest duplicates —
    * degrade to star pairs against the bucket's min id: linear output
    * that still links every member to a canonical representative for
    * dedup.
    *
    * Scale shape: ONE exchange on the bucket key, so the `banded`
    * subplan (a signature kernel) runs once, then a sort of each
    * partition on (bucket, id) and a streaming per-partition emitter
    * ([[bucketEmitter]]) that holds at most `maxBucket` ids at a time,
    * however large a bucket is (semantic clusters are corpus-sized).
    * A stats aggregate joined back to `banded` twice would plan three
    * exchanges over `banded`, and AQE reuses none of them: column
    * pruning gives the references different columns. */
  private[graft] def bucketPairs(banded: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val keys = bucketCols.map(col)
    // a null bucket key pairs with nothing, as in an equi-join
    val sorted = banded.select(keys :+ col("__id"): _*)
      .filter((keys :+ col("__id")).map(_.isNotNull).reduce(_ && _))
      .repartition(keys: _*).sortWithinPartitions(keys :+ col("__id"): _*)
    val idType = sorted.schema("__id").dataType
    val pairSchema = StructType(Seq("idA", "idB").map(StructField(_, idType, nullable = false)))
    val nKeys = keys.size
    // a pair lands in every bucket its ids share (up to one per band)
    sorted.mapPartitions((rows: Iterator[Row]) => bucketEmitter(rows, nKeys, maxBucket))(
        Encoders.row(pairSchema))
      .distinct()
  }

  /** The pairs of `rows`, sorted by (bucket key in the first `nKeys`
    * fields, id): every pair of distinct ids inside a bucket of at most
    * `maxBucket` rows, and (first id, id) for every other id of a
    * larger bucket. The first id of a sorted bucket is its minimum. A
    * bucket is buffered only up to `maxBucket` ids; past that it
    * streams. */
  private def bucketEmitter(rows: Iterator[Row], nKeys: Int,
      maxBucket: Int): Iterator[Row] = {
    val in = rows.buffered
    def same(a: Row, b: Row) = (0 until nKeys).forall(i => a.get(i) == b.get(i))
    val buf = scala.collection.mutable.ArrayBuffer[Any]()
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val first = in.next()
      buf.clear()
      buf += first.get(nKeys)
      while (buf.size < maxBucket && in.hasNext && same(in.head, first))
        buf += in.next().get(nKeys)
      val ids = buf.toArray
      if (in.hasNext && same(in.head, first)) {
        val rest = Iterator.continually(in).takeWhile(i => i.hasNext && same(i.head, first))
          .map(_.next().get(nKeys))
        (ids.iterator.drop(1) ++ rest).filter(_ != ids(0)).map(Row(ids(0), _))
      } else for {
        i <- ids.indices.iterator
        j <- (i + 1 until ids.length).iterator if ids(i) != ids(j)
      } yield Row(ids(i), ids(j))
    }
  }

  /** Exact Jaccard for CANDIDATE pairs via collision counting: the
    * hashes in `__ha`/`__hb` are per-doc distinct, so |A ∩ B| equals
    * the number of hash buckets where the pair collides — one narrow
    * join of the exploded postings plus a combinable `count` per
    * pair, no per-pair `array_intersect`/`array_union` (measured
    * ~2.5x on the minhash verify at sf0.1; the array kernels were
    * the dominant cost of every near-dup verify stage).
    *
    * `pairs` is (idA, idB), a [[Scope.checkpoint]] (or a projection of
    * one), so its row count is known without a job; `left`/`right` are
    * (idA, __ha) / (idB, __hb) hash-set frames covering the pairs' ids
    * (more rows are fine: the verify restricts them to the candidates,
    * and materializes the restriction only on the big-candidate path,
    * where it is read more than once). Hashes hotter than `maxDf` across
    * the candidate postings are excluded from the counting join (a
    * bucket that hot only happens inside a dense near-identical
    * cluster); pairs where BOTH ends carry an excluded hash re-verify
    * on the full arrays, so every emitted value is exact. `ordered`
    * = true when callers guarantee idA < idB (symmetric same-corpus
    * pairs), halving the counting-join volume; bipartite id spaces
    * (cross-corpus dedup) pass false. Requires threshold > 0 (zero-
    * intersection pairs are dropped, not scored). */
  private def verifyPairsByCount(pairs: DataFrame, left: DataFrame,
      right: DataFrame, threshold: Double, maxDf: Int,
      ordered: Boolean): DataFrame = {
    // Adaptive: for a SMALL checkpointed candidate set the direct
    // array verify is one broadcast join + a per-pair intersect —
    // cheaper than the ~10-stage counting pipeline whose fixed AQE
    // latency dominates at this size. The counting join takes over
    // when candidates are too many to ship arrays for (its volume is
    // bounded by the df cap, not the pair count).
    if (Scope.rows(pairs).getOrElse(pairs.count()) <= 100000)
      return pairs.join(left, Seq("idA")).join(right, Seq("idB"))
        .withColumn("jaccard",
          size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
            size(array_union(col("__ha"), col("__hb"))))
        .filter(col("jaccard") >= threshold)
        .select(col("idA"), col("idB"), col("jaccard"))
    // big-candidate path only: materialize the candidates' hash sets,
    // which fan out into the posting, taint and fallback branches below
    // (the array path above reads each exactly once)
    val leftCp = Scope.checkpoint(
      left.join(pairs.select(col("idA")).distinct(), Seq("idA"), "left_semi"))
    val rightCp = Scope.checkpoint(
      right.join(pairs.select(col("idB")).distinct(), Seq("idB"), "left_semi"))
    val pa = leftCp.select(col("idA"), explode(col("__ha")).as("__h"),
      size(col("__ha")).as("__szA"))
    val pb = rightCp.select(col("idB"), explode(col("__hb")).as("__h"),
      size(col("__hb")).as("__szB"))
    // symmetric mode: pa and pb are the same corpus, so counting the
    // union would double every hash's df and silently halve the
    // effective maxDf — count one side only; bipartite mode needs both
    val hot = (if (ordered) pa.select(col("__h"))
               else pa.select(col("__h")).unionAll(pb.select(col("__h"))))
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
    val joined = pa.join(hot, Seq("__h"), "left_anti")
      .join(pb.join(hot, Seq("__h"), "left_anti"), Seq("__h"))
    val cnt = (if (ordered) joined.filter(col("idA") < col("idB")) else joined)
      .groupBy(col("idA"), col("idB"), col("__szA"), col("__szB"))
      .agg(count(lit(1)).as("__i"))
    val taintA = pa.join(hot, Seq("__h"), "left_semi")
      .select(col("idA")).distinct().withColumn("__tA", lit(true))
    val taintB = pb.join(hot, Seq("__h"), "left_semi")
      .select(col("idB")).distinct().withColumn("__tB", lit(true))
    // cached: the clean and dirty branches below both filter this
    // frame — without the cache the counting join runs once per branch
    val marked = Scope.checkpoint(pairs.join(cnt, Seq("idA", "idB"), "left")
      .join(taintA, Seq("idA"), "left").join(taintB, Seq("idB"), "left"))
    val bothTainted = col("__tA").isNotNull && col("__tB").isNotNull
    val clean = marked.filter(!bothTainted).filter(col("__i").isNotNull)
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__szA") + col("__szB") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
    val dirty = marked.filter(bothTainted).select(col("idA"), col("idB"))
      .join(leftCp, Seq("idA")).join(rightCp, Seq("idB"))
      .withColumn("jaccard",
        size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
          size(array_union(col("__ha"), col("__hb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
    clean.unionByName(dirty)
  }

  /** Candidate near-duplicate pairs via MinHash LSH banding, verified
    * with true n-gram Jaccard. Returns (idA, idB, jaccard) with
    * idA < idB and jaccard >= threshold.
    *
    * Scale shape: each doc is shingle-hashed ONCE into a materialized
    * `(__id, __hs)` frame ([[hashSets]]) that both the banding and the
    * verify read → one in-row kernel pass for the 128 permutation mins
    * → numBands rows/doc → one shuffle on (band, bandHash) → pairs only
    * within buckets ([[bucketPairs]]: skew-guarded, dense overflow
    * buckets degrade to star pairs) → verify joins of the candidate
    * pairs with the hash sets. Never an all-pairs product.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame =
    pairsOfHashSets(hashSets(df, idCol, textCol, shingleSize, carried = None),
      threshold, numHashes, numBands, maxBucket)

  /** [[minhashPairs]] over a materialized `(__id, __hs)` frame. */
  private def pairsOfHashSets(docsH: DataFrame, threshold: Double,
      numHashes: Int, numBands: Int, maxBucket: Int): DataFrame = {
    // checkpointed: the verify counts it and joins it to the hash sets
    val pairs = Scope.checkpoint(bucketPairs(
      bandedFromHashSets(docsH, numHashes, numBands), Seq("__band", "__bsig"), maxBucket))
    verifyPairsByCount(pairs,
      docsH.select(col("__id").as("idA"), col("__hs").as("__ha")),
      docsH.select(col("__id").as("idB"), col("__hs").as("__hb")),
      threshold, maxDf = maxBucket, ordered = true)
  }

  /** Near-dedup: drop every document that is the larger id of a
    * verified near-duplicate pair (greedy canonical-smallest — one
    * anti-join, no connected components needed for dedup purposes). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame =
    hashedDedup(df, idCol, textCol, threshold, shingleSize = 3).drop(HashCol)

  /** [[minhashDedup]]'s survivors with their shingle-hash sets in
    * [[HashCol]]: the rows are hashed once into a checkpoint that the
    * pair mining and the survivor anti-join both read, so a caller that
    * needs the sets later (the incremental curation recipe) hashes no
    * document again. */
  private[ops] def hashedDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int): DataFrame = {
    val h = Scope.checkpoint(Par.spread(df)
      .withColumn(HashCol, shingleHashes(col(textCol), shingleSize)))
    val doomed = pairsOfHashSets(h.select(col(idCol).as("__id"), col(HashCol)),
      threshold, numHashes = 128, numBands = 32, maxBucket = 1000)
      .select(col("idB").as(idCol)).distinct()
    h.join(doomed, Seq(idCol), "left_anti")
  }

  /** The column a frame carries its documents' shingle-hash sets in
    * ([[shingleHashes]]), between the stages of the incremental
    * curation recipe. */
  private[ops] val HashCol = "__hs"

  /** `(__id, __hs)` of `df`'s documents, hashed at `shingleSize`: the
    * sets `df` already carries in [[HashCol]] when they were hashed at
    * that size (`carried`), read as they are; otherwise hashed here
    * once into a [[Scope.checkpoint]], since every caller reads them
    * more than once. */
  private def hashSets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, carried: Option[Int]): DataFrame =
    if (carried.contains(shingleSize) && df.columns.contains(HashCol))
      df.select(col(idCol).as("__id"), col(HashCol))
    else Scope.checkpoint(Par.spread(df).select(col(idCol).as("__id"),
      shingleHashes(col(textCol), shingleSize).as(HashCol)))

  /** EXACT n-gram Jaccard near-dup pairs — the deterministic
    * complement to [[minhashPairs]] (which trades a ~1e-14 LSH miss
    * probability for corpus-size-independent banding).
    *
    * The Jaccard numerator IS the collision count: shingle hashes are
    * distinct within a doc, so |A ∩ B| equals the number of inverted-
    * index buckets where the pair co-occurs, and
    * `J = i / (szA + szB - i)` is exact with NO array comparison at
    * all. The whole computation is one narrow self-join of the
    * posting list on the shingle hash plus a map-side-combinable
    * `count` per pair — this replaced a PPJoin-style mine-then-
    * array-verify pipeline that spent its time in per-pair
    * `array_intersect`/`array_union` (measured 31.7s → see bench;
    * the positional filter pruned under 2× at low thresholds while
    * the array verify cost ~9μs/row·core).
    *
    * At `threshold >= 0.5` the self-join is first restricted to
    * CANDIDATE DOCS via prefix filtering (SSJoin/AllPairs): order
    * each doc's shingles by global document frequency ascending and
    * index only the first `sz - ceil(t*sz) + 1`; any pair with
    * J >= t must collide inside those prefixes, so docs alone in
    * every prefix bucket can be dropped before the join. The
    * corpus-wide stop-shingles (the df² noise generators) sit in
    * every doc's suffix where they generate no candidates.
    *
    * `maxDf` is a skew guard: shingles with df above it are excluded
    * from the counting join (a bucket that hot only happens inside a
    * dense cluster of near-identical docs, where the TRUE output is
    * itself quadratic). Pairs that may share such a shingle — both
    * ends carry one — fall back to an exact array verify, and
    * oversized buckets additionally contribute star pairs against
    * the canonical member so dense clusters stay linked for dedup.
    *
    * Scale shape: one df join + one hash-partitioned self-join of
    * df-capped postings + one combinable aggregation; the array
    * fallback touches only docs containing >maxDf shingles (none, on
    * healthy corpora). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxDf: Int = 1000): DataFrame = {
    // cached: referenced by the posting/df chain and the array verify
    val docsH = Scope.checkpoint(
      Par.spread(df).select(col(idCol).as("__id"),
        shingleHashes(col(textCol), shingleSize).as("__hs")))
    val posting = docsH.select(col("__id"), explode(col("__hs")).as("__h"),
      size(col("__hs")).as("__sz"))
    val dfs = posting.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val withDf = posting.join(dfs, Seq("__h"))
    val normal = withDf.filter(col("__df") <= maxDf)
    // high-threshold regime: drop docs that share no prefix bucket
    // before paying for the self-join. The 1e-9 nudge keeps ceil()
    // exact when t*sz is an integer that float noise pushes up.
    val joinBase = if (threshold >= 0.5) {
      val rk = row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__h")))
      val prefix = normal.withColumn("__rk", rk)
        .filter(col("__rk") <=
          col("__sz") - ceil(col("__sz") * threshold - lit(1e-9)) + 1)
        .select(col("__h"), col("__id"))
      val bs = prefix.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      val candIds = prefix.join(bs.filter(col("__n") >= 2), Seq("__h"))
        .select(col("__id")).distinct()
      normal.join(candIds, Seq("__id"), "left_semi")
    } else normal
    val cnt = joinBase
      .select(col("__h"), col("__id").as("idA"), col("__sz").as("__szA"))
      .join(joinBase.select(col("__h"), col("__id").as("idB"),
        col("__sz").as("__szB")), Seq("__h"))
      .filter(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB"), col("__szA"), col("__szB"))
      .agg(count(lit(1)).as("__i"))
    // docs carrying an over-cap shingle: a shared one is invisible to
    // the count above, so pairs with BOTH ends tainted re-verify on
    // the full hash arrays (rare path; empty on healthy corpora)
    val overPost = withDf.filter(col("__df") > maxDf)
    val tainted = overPost.select(col("__id")).distinct()
      .withColumn("__t", lit(true))
    val om = overPost.groupBy(col("__h")).agg(min(col("__id")).as("__minId"))
    val star = overPost.join(om, Seq("__h"))
      .filter(col("__id") =!= col("__minId"))
      .select(col("__minId").as("idA"), col("__id").as("idB")).distinct()
    // cached: clean + dirty branches both filter this frame
    val marked = Scope.checkpoint(cnt
      .join(tainted.withColumnRenamed("__id", "idA")
        .withColumnRenamed("__t", "__tA"), Seq("idA"), "left")
      .join(tainted.withColumnRenamed("__id", "idB")
        .withColumnRenamed("__t", "__tB"), Seq("idB"), "left"))
    val bothTainted = col("__tA").isNotNull && col("__tB").isNotNull
    val clean = marked.filter(!bothTainted)
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__szA") + col("__szB") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
    val dirtyCand = marked.filter(bothTainted)
      .select(col("idA"), col("idB")).unionByName(star).distinct()
    val dirty = dirtyCand
      .join(docsH.withColumnRenamed("__id", "idA")
        .withColumnRenamed("__hs", "__ha"), Seq("idA"))
      .join(docsH.withColumnRenamed("__id", "idB")
        .withColumnRenamed("__hs", "__hb"), Seq("idB"))
      .withColumn("jaccard",
        size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
          size(array_union(col("__ha"), col("__hb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
    clean.unionByName(dirty)
  }

  // --------------------------------------------- cross-corpus dedup

  /** Persist a MinHash-LSH index of a corpus for INCREMENTAL dedup:
    * new batches are deduped against it without re-mining the corpus
    * (the 100-TB pipeline shape — per-batch cost scales with the
    * batch, never the corpus). Layout under `path`:
    *
    *  - `bands/` — one (id, band, bandHash) row per (doc, band) in flat
    *    parquet files, which a probe joins on (band, bandHash). A
    *    batch's band hashes cover every hash range, so bucketing them
    *    would let no probe skip a file;
    *  - `docs/`  — (id, shingle-hash set) for the verify stage, joined
    *    to the candidate pairs only;
    *  - the [[IndexDir]] meta — the LSH parameters, so probes can
    *    never silently mismatch the stored signatures.
    *
    * A probe takes the two file sets' schema from one `docs/` footer
    * ([[graft.store.Warehouse.footerSchema]]): the id type is the
    * index's own, and no read infers a schema in a job.
    *
    * `carried` is the shingle size of hash sets `df` already carries in
    * [[HashCol]] (the incremental recipe's spills): at the index's size
    * they are written as they are, otherwise the docs are hashed here.
    */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 128, numBands: Int = 32,
      shingleSize: Int = 3): Unit =
    buildMinhashIndex(df, idCol, textCol, path, numHashes, numBands, shingleSize, None)

  private[ops] def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int, numBands: Int, shingleSize: Int,
      carried: Option[Int]): Unit = {
    val meta = IndexDir.MinhashMeta(numHashes, numBands, shingleSize)
    writeMinhashRows(df, idCol, textCol, path, meta, "overwrite", carried)
    IndexDir.write(df.sparkSession, path, meta)
  }

  /** Incrementally add documents to a [[buildMinhashIndex]] corpus
    * index (through [[Similarity.appendToIndex]], which reads the meta):
    * signatures are computed with the INDEX's stored parameters and
    * appended as new files — no rebuild, cost scales with the batch.
    * The caller owns id-uniqueness across batches; appends are
    * at-least-once safe (a replayed append duplicates signature rows,
    * which costs bytes but never changes a dedup decision — candidates
    * dedupe on id). An index built with `__bp`-partitioned bands is
    * first rewritten flat, once, through the [[IndexDir.rebuild]] swap:
    * a flat file next to partition directories is invisible to a read
    * of `bands/`. `carried` as in [[buildMinhashIndex]]. */
  private[ops] def appendToMinhashIndex(df: DataFrame, idCol: String,
      textCol: String, path: String, meta: IndexDir.MinhashMeta,
      carried: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    if (meta.legacyBuckets.isDefined) IndexDir.rebuild(spark, path) { scratch =>
      for (set <- Seq("docs", "bands"))
        spark.read.parquet(new org.apache.hadoop.fs.Path(path, set).toString)
          .drop("__bp").write
          .parquet(new org.apache.hadoop.fs.Path(scratch, set).toString)
      IndexDir.write(spark, scratch, meta.copy(legacyBuckets = None))
    }
    writeMinhashRows(df, idCol, textCol, path, meta, "append", carried)
  }

  /** Write the `docs/` rows and the banded signatures of `df` from ONE
    * hash-set frame ([[hashSets]]: the carried sets, or a checkpoint),
    * one file per [[Write.tasksFor]] share of their rows. The row count
    * comes from the checkpoint or the carried spill's footers. */
  private def writeMinhashRows(df: DataFrame, idCol: String, textCol: String,
      path: String, meta: IndexDir.MinhashMeta, mode: String,
      carried: Option[Int]): Unit = Scope {
    val docsH = hashSets(df, idCol, textCol, meta.shingleSize, carried)
    val rows = Scope.rows(docsH)
    def write(f: DataFrame, set: String, rowsPerDoc: Int): Unit =
      rows.fold(f)(n => f.coalesce(Write.tasksFor(n * rowsPerDoc)))
        .write.mode(mode).parquet(new org.apache.hadoop.fs.Path(path, set).toString)
    write(docsH, "docs", 1)
    write(bandedFromHashSets(docsH, meta.numHashes, meta.numBands), "bands", meta.numBands)
  }

  /** The banded-signature frame `(__id, __band, __bsig)` of a text
    * column, as [[minhashPairs]] and the corpus index band their hash
    * sets. */
  private[graft] def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, numBands: Int, shingleSize: Int): DataFrame =
    bandedFromHashSets(
      Par.spread(df).select(col(idCol).as("__id"),
        shingleHashes(col(textCol), shingleSize).as("__hs")),
      numHashes, numBands)

  /** Banding from a per-doc shingle-hash-SET frame `(__id, __hs)`, so
    * every minhash path bands the hash sets it already holds instead of
    * re-parsing the corpus.
    *
    * Scale shape (r14 optimization, guide §2.4/§4): the previous
    * formulation exploded `__hs` and computed the 128 permutation
    * mins as two ≤64-aggregate groupBys joined on id — correct and
    * codegen'd, but it paid a FULL SHUFFLE of one (id, hash) row per
    * shingle (the corpus's token count × 16 bytes) on every mining
    * pass. The [[graft.functions.MiningKernels.minhashMins]] kernel
    * computes all 128 mins in one in-row pass inside whole-stage
    * codegen: the signature stage is now map-only, and the first
    * exchange of every minhash path carries one narrow row per
    * (doc, band). Band packing is one more kernel,
    * [[graft.functions.MiningKernels.bandHashes]]: its keys equal
    * `xxhash64(concat_ws(",", …))` over the mins bit for bit, so
    * `__bsig` values in existing `bands/` files, and every downstream
    * bucket/pair/verify result, are unchanged, while the stage class
    * stays small (as 32 such expressions it ran to ~5,700 lines, too
    * large for the JIT, and took 0.1–0.26 s to compile). */
  private def bandedFromHashSets(docsH: DataFrame,
      numHashes: Int, numBands: Int): DataFrame = {
    import graft.functions.MiningKernels.{bandHashes, minhashMins}
    // a doc without shingles has null mins and no bands
    docsH.select(col("__id"), posexplode(bandHashes(
        minhashMins(col("__hs"), minhashCoefs(numHashes)), numBands, numHashes / numBands)))
      .select(col("__id"), col("pos").as("__band"), col("col").as("__bsig"))
  }

  /** Dedup a new batch AGAINST a [[buildMinhashIndex]] corpus index:
    * drops batch docs whose n-gram Jaccard with some indexed doc is >=
    * `threshold`; batch-internal duplicates are untouched (compose
    * with [[minhashDedup]] for those). The batch is shingle-hashed once
    * ([[hashSets]]); its bands join all of `bands/` on (band, bandHash)
    * (either layout: the select drops a partitioned index's `__bp`),
    * and the candidate pairs verify against the batch's hash sets and
    * the corpus's `docs/` sets. Both index file sets are read with the
    * schema of one `docs/` footer, so no read infers one in a job.
    */
  def dedupAgainstIndex(newDf: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8): DataFrame =
    dedupAgainstIndex(newDf, idCol, textCol, path, threshold, None)

  /** [[dedupAgainstIndex]] over a batch that may carry its hash sets
    * (`carried` as in [[buildMinhashIndex]]); the survivors keep every
    * column of `newDf`. */
  private[ops] def dedupAgainstIndex(newDf: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double, carried: Option[Int]): DataFrame = {
    val spark = newDf.sparkSession
    val IndexDir.MinhashMeta(numHashes, numBands, shingleSize, _) =
      IndexDir.readAs[IndexDir.MinhashMeta](spark, path, "a minhash corpus index")
    val docsDir = new org.apache.hadoop.fs.Path(path, "docs")
    val docsSchema = graft.store.Warehouse.footerSchema(
      spark.sparkContext.hadoopConfiguration, docsDir)
    def read(set: String, schema: Option[StructType]): DataFrame =
      schema.fold(spark.read)(spark.read.schema)
        .parquet(new org.apache.hadoop.fs.Path(path, set).toString)
    val bandsSchema = docsSchema.map(d => StructType(Seq(d("__id"),
      StructField("__band", IntegerType), StructField("__bsig", LongType))))
    val newH = hashSets(newDf, idCol, textCol, shingleSize, carried)
    // the candidate frame is the verify's pair set: materialized, so
    // its row count is known without a job
    val cands = Scope.checkpoint(bandedFromHashSets(newH, numHashes, numBands)
      .join(read("bands", bandsSchema)
        .select(col("__id").as("__cid"), col("__band"), col("__bsig")),
        Seq("__band", "__bsig"))
      .select(col("__id"), col("__cid")).distinct())
    // bipartite count verify: batch ids vs corpus ids are separate
    // spaces, so ordered = false (equal values are distinct docs)
    val doomed = verifyPairsByCount(
      cands.select(col("__id").as("idA"), col("__cid").as("idB")),
      newH.select(col("__id").as("idA"), col(HashCol).as("__ha")),
      read("docs", docsSchema).select(col("__id").as("idB"), col(HashCol).as("__hb")),
      threshold, maxDf = 1000, ordered = false)
      .select(col("idA").as(idCol)).distinct()
    newDf.join(doomed, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of
    * token hashes, through the
    * [[graft.functions.MiningKernels.simhashBits]] codegen kernel
    * (r14: previously 64 per-row array-aggregate lambdas, interpreted;
    * the vote rule — bit set iff strictly more ones than zeros — is
    * unchanged). */
  def simhash(text: Column): Column =
    graft.functions.MiningKernels.simhashBits(
      transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t)), 64)

  /** SimHash near-dup candidate pairs: band the `numBits`-bit hash
    * into 4 chunks (pigeonhole: hamming distance <= 3 implies one
    * identical chunk), bucket-join, verify true hamming distance.
    *
    * The signature is one map-only kernel projection per doc
    * ([[graft.functions.MiningKernels.simhashBits]] — see the inline
    * note below). Majority vote: bit set iff 2*ones > tokens.
    *
    * `tokenHash` defaults to xxhash64 (the cheap choice at corpus
    * scale); pass an engine-portable hash (e.g. an md5-derived 60-bit
    * value) when the output must be reproducible outside Spark —
    * that is exactly what the DuckDB-oracled verification query does.
    *
    * Candidate generation routes through [[bucketPairs]]: buckets of
    * 2..maxBucket members emit all in-bucket pairs; denser buckets —
    * a cluster of near-identical docs collides in every chunk, the
    * exact input dedup corpora contain — degrade to LINEAR star pairs
    * against the bucket's min id instead of an O(n²) self-join, same
    * as the minhash and cosine miners. Inside the degrade the output
    * is no longer the full pair set, but every cluster member stays
    * linked to a canonical representative, which is what dedup needs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numBits: Int = 64,
      tokenHash: Column => Column = xxhash64(_),
      maxBucket: Int = 1000): DataFrame = {
    require(numBits % 4 == 0 && numBits <= 64,
      s"numBits must be a multiple of 4 up to 64, got $numBits")
    val chunkBits = numBits / 4
    val chunkMask = (1L << chunkBits) - 1
    // Per-doc signature in ONE map-only projection (r14 optimization,
    // guide §2.4/§4): token hashes stay an in-row array (`transform`
    // over the split — tokenHash is a caller-supplied Column function,
    // so this spot keeps HOF generality) and the per-bit majority vote
    // runs in the [[graft.functions.MiningKernels.simhashBits]] codegen
    // kernel. The previous shape exploded one row per token and paid a
    // 65-aggregate groupBy — a full shuffle of the corpus's token
    // count × 16 bytes per mining pass. Vote rule unchanged (bit set
    // iff 2×ones > tokens), so signatures are bit-identical.
    val hashed = Par.spread(df).select(col(idCol).as("__id"),
      transform(split(lower(trim(col(textCol))), "\\s+"),
        t => tokenHash(t)).as("__th"))
    // checkpointed: the banded self-join below references
    // this frame on both sides; the cache is 16 bytes/doc
    val sh = Scope.checkpoint(hashed.select(col("__id"),
      graft.functions.MiningKernels.simhashBits(col("__th"), numBits)
        .as("__sh")))
    val banded = sh.select(col("__id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("__sh"), b * chunkBits).bitwiseAND(chunkMask)
            .as("chunk"))): _*)).as("__b"))
      .select(col("__id"), col("__b.band").as("__band"),
        col("__b.chunk").as("__chunk"))
    // skew-guarded pair mining (star-pair degrade above maxBucket),
    // then join the 16-byte signatures back and verify true hamming
    bucketPairs(banded, Seq("__band", "__chunk"), maxBucket)
      .join(sh.select(col("__id").as("idA"), col("__sh").as("__shA")), Seq("idA"))
      .join(sh.select(col("__id").as("idB"), col("__sh").as("__shB")), Seq("idB"))
      .withColumn("hamming", bit_count(col("__shA").bitwiseXOR(col("__shB"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }
}
