package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus sampling and sharding for training-data pipelines:
  * deterministic hash sampling, per-stratum caps, and token-budget
  * shard packing. All reproducible (no RNG state, no
  * partitioning-dependent output) — rerunning a sample over the same
  * corpus on any cluster size selects the same rows, which is what
  * makes ablations and held-out splits auditable.
  *
  * The rank-based ops materialize one narrow layout frame each with
  * [[Scope.checkpoint]]; the frames they return read it, so it lives
  * until the caller's scope closes (outside any scope, until the
  * ContextCleaner reclaims it).
  */
object Sample {

  /** 32-bit Knuth multiplicative hash of a non-negative id, as a
    * Column: `((id mod 2³¹) * 2654435761) mod 2³²`. Folded to 2³¹
    * first so the product stays inside signed-64 range (DuckDB and
    * ANSI SQL raise on bigint overflow; Spark would silently wrap —
    * the fold keeps the two engines bit-identical). */
  def idHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(id.cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))

  /** Deterministic `fraction` sample: keep rows whose [[idHash]] falls
    * in the first `fraction` of the 32-bit hash space. A stateless
    * narrow filter — no shuffle, no seed plumbing, membership of a row
    * depends only on its id. Disjoint splits come for free: bands
    * `[lo, hi)` of the hash space partition the corpus, so
    * train/validation/test are non-overlapping by construction. */
  def byHash(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction not in [0,1]")
    df.filter(idHash(col(idCol)) < lit((fraction * 4294967296.0).toLong))
  }

  /** Band `[lo, hi)` of the hash space (fractions of 1): the disjoint
    *-split form of [[byHash]] — `split(df, id, 0, 0.9)` and
    * `split(df, id, 0.9, 1.0)` never share a row and together cover
    * the corpus. */
  def split(df: DataFrame, idCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"bad band [$lo, $hi)")
    val h = idHash(col(idCol))
    df.filter(h >= lit((lo * 4294967296.0).toLong) &&
      h < lit((hi * 4294967296.0).toLong))
  }

  /** Temperature-flattened source sampling — the multilingual
    * rebalancing rule of the mT5 / XLM-R training recipes: sources
    * are sampled with probability `p_s ∝ n_s^alpha` (`alpha = 1/T`,
    * in (0, 1]; 1 keeps the natural distribution, smaller values
    * flatten toward uniform so low-resource sources stop being
    * drowned out). Given a total budget of `targetFraction` × corpus
    * rows, each source gets the closed-form keep rate
    * `min(1, targetFraction · N · n_s^alpha / (Σ n^alpha · n_s))` —
    * mass a capped (fully-kept) source cannot absorb is NOT
    * redistributed, keeping every rate a pure function of the count
    * table that any engine reproduces. Membership then follows the
    * [[idHash]] rule, so the selection is deterministic, stateless,
    * and partitioning-independent like every sampler here.
    *
    * Scale shape: one map-side-combinable count aggregate over the
    * corpus (the only shuffle, carrying (source, long) pairs), a
    * per-source rate frame of #sources rows broadcast back, and a
    * narrow filter. */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double, targetFraction: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha $alpha not in (0,1]")
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction $targetFraction not in (0,1]")
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"))
    val tots = counts.agg(sum(col("__n")).as("__tot"),
      sum(pow(col("__n"), lit(alpha))).as("__wsum"))
    val rates = counts.crossJoin(broadcast(tots)).select(col(groupCol),
      least(lit(1.0), lit(targetFraction) * col("__tot") *
        pow(col("__n"), lit(alpha)) / col("__wsum") / col("__n")).as("__rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .filter(idHash(col(idCol)) <
        (col("__rate") * lit(4294967296.0)).cast("long"))
      .drop("__rate")
  }

  /** Second independent 32-bit multiplicative hash (different odd
    * constant than [[idHash]]) so shard assignment and within-shard
    * position decorrelate — same signed-64-safe fold. */
  private def idHash2(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(id.cast("long"), lit(2147483648L)) * lit(2246822519L),
      lit(4294967296L))

  /** Deterministic corpus shuffle: `shard = hash2(id) mod nShards`,
    * `pos = hash(id)` — reading shards in shard order, each sorted by
    * `pos`, yields a fixed pseudo-random permutation of the corpus
    * (the "global shuffle before training" step). Stateless narrow
    * projection: no Spark shuffle here at all — the exchange happens
    * once, in the writer's `partitionBy("shard")`, and the permutation
    * is identical on any cluster size or engine (pure 32-bit integer
    * arithmetic). Appends `shard` and `pos` columns. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    df.withColumn("shard",
        pmod(idHash2(col(idCol)), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", idHash(col(idCol)))
  }

  /** Materialized global shuffle: assign [[shuffleShards]] shards,
    * cluster so each `shard=<k>` directory receives exactly ONE file
    * (the training-shard layout dataloaders stream), rows inside it
    * ordered by the within-shard position. One exchange (the
    * repartition on the shard id) regardless of corpus size; without
    * the clustering every map task would open a writer per shard it
    * touches — tasks × shards small files, the object-store killer
    * (same fix as the LSH index writer). */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
      path: String): Unit =
    shuffleShards(df, idCol, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Leakage-free split: band `[lo, hi)` of the GROUP key's hash
    * space, so every row of a group (all docs of one source/site/
    * author) lands on the same side — the train/test separation rule
    * that stops near-duplicate leakage across splits. Membership is
    * decided by the first 8 hex chars of `md5(group)` compared as
    * strings against the band's hex bounds — engine-independent (md5's
    * lowercase-hex form is identical everywhere, and fixed-width hex
    * compares lexicographically = numerically), stateless, narrow. */
  def splitByGroup(df: DataFrame, groupCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"bad band [$lo, $hi)")
    val h = substring(md5(col(groupCol).cast("string")), 1, 8)
    def bound(f: Double): String =
      "%08x".format(math.min((f * 4294967296.0).toLong, 0xFFFFFFFFL))
    val upper = if (hi >= 1.0) lit(true) else h < lit(bound(hi))
    df.filter(h >= lit(bound(lo)) && upper)
  }

  /** Train/validation split atomic over NEAR-DUPLICATE clusters — the
    * leakage guard [[splitByGroup]] cannot give when the leak unit is
    * not a metadata column but similarity itself: two near-duplicate
    * documents on opposite sides of a split leak the evaluation set
    * into training. `pairs` is a mined near-dup pair list
    * ([[Dedup.minhashPairs]] / [[Dedup.jaccardPairs]] /
    * [[Similarity.cosinePairs]]); the split's group key is each doc's
    * connected-component root ([[Cluster.components]] — transitively
    * closed, so a chain A~B~C moves as one unit even though (A,C) was
    * never mined), unpaired docs being their own group. Disjoint
    * bands `[lo, hi)` partition the corpus cluster-atomically.
    *
    * Scale shape: component labels are (long, long) shuffles
    * (O(log diameter) rounds); the corpus side adds one equi-join on
    * id and the stateless md5-band filter — no new heavy machinery. */
  def splitByComponents(df: DataFrame, pairs: DataFrame, idCol: String,
      lo: Double, hi: Double): DataFrame = {
    val comp = Cluster.components(pairs)
      .select(col("id").as(idCol), col("component").as("__comp"))
    val grouped = df.join(comp, Seq(idCol), "left")
      .withColumn("__grp", coalesce(col("__comp"), col(idCol)))
    splitByGroup(grouped, "__grp", lo, hi).drop("__comp", "__grp")
  }

  /** Shared machinery of [[capPerStratum]] / [[topFractionPerStratum]]:
    * find, per stratum, the order-key tuple of the LAST kept row (the
    * "boundary"), then keep payload rows whose key tuple sorts at or
    * before it — a broadcast-join + narrow filter, so the payload
    * itself never shuffles, never persists, and never funnels through
    * a per-stratum window task.
    *
    * The naive plan (`row_number().over(Window.partitionBy(strata))`)
    * sorts each stratum's FULL row set in one task — a scale cliff
    * when one source dominates a 100-TB corpus. Here the exact rank is
    * computed over a NARROW layout (strata + key tuple only) with the
    * [[packByBudget]] two-phase prefix sum: range-repartition the
    * layout on (strata, key) — a stratum's rows stay contiguous but
    * SPREAD over many partitions — stamp `spark_partition_id()`,
    * collect one (partition, stratum) count per pair to the driver for
    * prefix offsets, and add a PARTITION-LOCAL row_number (window
    * grouped by the partition stamp, so no window group ever exceeds
    * one layout partition). The row whose global rank equals the
    * stratum's keep-count is the boundary; boundaries (#strata rows)
    * broadcast back onto the untouched payload. Exact under arbitrary
    * ties and key skew; driver traffic is #partitions × #strata longs.
    *
    * `kOf` maps the per-stratum row count to its keep-count; a stratum
    * whose keep-count is ≤ 0 has no boundary row and drops entirely
    * (the inner join). The layout is checkpointed (partition stamps
    * must be stable across the two jobs — see [[packByBudget]]). */
  private def keepUpToStratumBoundary(df: DataFrame, strataCols: Seq[String],
      keyCols: Seq[org.apache.spark.sql.Column],
      kOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val bounds = stratumBounds(df, strataCols, keyCols, Seq(kOf))
      .drop("__cut")
    def key = struct(keyCols.zipWithIndex.map { case (c, i) =>
      c.as(s"k$i") }: _*)
    df.join(broadcast(bounds), strataCond(df, bounds, strataCols))
      .filter(key <= col("__bound"))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Null-safe stratum equality between a payload frame and a
    * layout-derived frame carrying `__s_<c>` copies: the layout
    * groupBy treats null strata as a group, so the joins must agree. */
  private def strataCond(lhs: DataFrame, rhs: DataFrame,
      strataCols: Seq[String]): org.apache.spark.sql.Column =
    strataCols.map(c => lhs(c) <=> rhs(s"__s_$c"))
      .foldLeft(lit(true))(_ && _)

  /** The layout pass of [[keepUpToStratumBoundary]], generalized to
    * MANY keep-counts over one layout: returns one row per
    * (stratum, cut index) with the boundary key tuple of that cut —
    * `(__s_<strata>…, __cut, __bound)`. All cuts share the single
    * narrow layout materialization, stats collect and partition-local
    * rank window, so asking for B cuts costs the same two jobs as
    * one. A cut whose keep-count is ≤ 0 for a stratum emits no row
    * there; two cuts landing on the same rank each emit their own. */
  private def stratumBounds(df: DataFrame, strataCols: Seq[String],
      keyCols: Seq[org.apache.spark.sql.Column],
      kOfs: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column])
      : DataFrame = {
    val spark = df.sparkSession
    val sCols = strataCols.map(col)
    // identical field names on both sides: struct comparison requires
    // matching types, and the payload filter compares payload-side
    // keys against the layout-derived boundary struct
    def key = struct(keyCols.zipWithIndex.map { case (c, i) =>
      c.as(s"k$i") }: _*)
    val layout = Scope.checkpoint(df.select(sCols :+ key.as("__key"): _*)
      .repartitionByRange(sCols :+ col("__key"): _*)
      .withColumn("__p", spark_partition_id()))
    val nS = strataCols.length
    val stats = layout.groupBy(col("__p") +: sCols: _*)
      .agg(count(lit(1)).as("__c")).collect()
    // driver: per stratum, rank offset of each partition (counts of the
    // same stratum in all earlier partitions — range partitioning keeps
    // a stratum contiguous in (strata, key) order) and the total count
    val offRows = stats.groupBy(r => (1 to nS).map(r.get).toIndexedSeq)
      .iterator.flatMap { case (sv, rs) =>
        val total = rs.map(_.getLong(nS + 1)).sum
        var acc = 0L
        rs.sortBy(_.getInt(0)).map { r =>
          val off = acc; acc += r.getLong(nS + 1)
          Row.fromSeq(r.getInt(0) +: sv :+ off :+ total)
        }
      }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__p",
        org.apache.spark.sql.types.IntegerType, false) +:
      strataCols.map(c => org.apache.spark.sql.types.StructField(
        s"__s_$c", df.schema(c).dataType, true)) :+
      org.apache.spark.sql.types.StructField("__off", LongType, false) :+
      org.apache.spark.sql.types.StructField("__n", LongType, false))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p") +: sCols: _*).orderBy(col("__key"))
    val ranked = layout.join(broadcast(offDf),
      layout("__p") === offDf("__p") && strataCond(layout, offDf, strataCols))
      .drop(offDf("__p"))
      .withColumn("__rank", col("__off") + row_number().over(w))
    // every cut's boundary rank, tested in one pass over the ranked
    // layout; explode keeps only the rows that ARE a boundary
    val cutRanks = array(kOfs.zipWithIndex.map { case (k, i) =>
      struct(lit(i).as("c"), least(k(col("__n")), col("__n")).as("r")) }: _*)
    ranked
      .select(strataCols.map(c => col(s"__s_$c")) ++ Seq(col("__key"),
        explode(filter(cutRanks, s =>
          s.getField("r") === col("__rank"))).as("__cb")): _*)
      .select(strataCols.map(c => col(s"__s_$c")) ++ Seq(
        col("__cb").getField("c").as("__cut"),
        col("__key").as("__bound")): _*)
  }

  /** Per-stratum score-BUCKET assignment — the CCNet head/middle/tail
    * shape: bucket 0 holds each stratum's best `ceil(f1 × n)` rows by
    * (`scoreCol` desc nulls last, `idCol` tie-break), bucket 1 the
    * next `ceil(f2 × n) − ceil(f1 × n)`, …, bucket B−1 the remainder;
    * `fractions` are the strictly-increasing CUMULATIVE cut points in
    * (0, 1). Adds `bucketCol` (int, 0 = best). Same exactness
    * contract as [[topFractionPerStratum]] (unique ids make the
    * assignment deterministic under score ties; NaN scores
    * unsupported).
    *
    * Scale shape: ONE narrow layout pass computes every cut's
    * boundary tuple ([[stratumBounds]] — B cuts cost the same two
    * jobs as one); the payload never shuffles, joining the broadcast
    * per-stratum bounds array and counting the cuts it falls inside
    * with an array HOF. */
  def scoreBuckets(df: DataFrame, strataCols: Seq[String], scoreCol: String,
      idCol: String, fractions: Seq[Double],
      bucketCol: String = "bucket"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f < 1) &&
      fractions.sliding(2).forall(s => s.size < 2 || s(0) < s(1)),
      s"fractions $fractions must be strictly increasing within (0,1)")
    val keyCols = Seq(col(scoreCol).isNull.cast("int"), -col(scoreCol),
      col(idCol))
    // f > 0 and n ≥ 1 make every cut's keep-count ≥ 1, so every
    // (stratum, cut) has a boundary row and the join below is total
    val bounds = stratumBounds(df, strataCols, keyCols,
      fractions.map(f => (n: org.apache.spark.sql.Column) =>
        ceil(n * lit(f)).cast("long")))
    val arr = bounds.groupBy(strataCols.map(c => col(s"__s_$c")): _*)
      .agg(collect_list(col("__bound")).as("__bs"))
    def key = struct(keyCols.zipWithIndex.map { case (c, i) =>
      c.as(s"k$i") }: _*)
    // nested cuts ⇒ bucket = #cuts − #(bounds at-or-after the key);
    // two cuts on one rank contribute two equal bounds, as intended
    df.join(broadcast(arr), strataCond(df, arr, strataCols))
      .withColumn(bucketCol, (lit(fractions.size) -
        size(filter(col("__bs"), b => key <= b))).cast("int"))
      .select(df.columns.map(col) :+ col(bucketCol): _*)
  }

  /** CCNet-style bucket SAMPLING: assign [[scoreBuckets]], then keep
    * each bucket at its rate through the [[idHash]] membership rule —
    * `rates(b)` is bucket b's keep fraction (`rates.size =
    * fractions.size + 1`). The classic instance scores documents with
    * [[graft.ops.Text.lmScore]] and keeps the head fully, the middle
    * at half, the tail at a trickle. Deterministic, stateless and
    * partitioning-independent like every sampler here. */
  def byScoreBuckets(df: DataFrame, strataCols: Seq[String], scoreCol: String,
      idCol: String, fractions: Seq[Double], rates: Seq[Double]): DataFrame = {
    require(rates.size == fractions.size + 1,
      s"need ${fractions.size + 1} rates, got ${rates.size}")
    require(rates.forall(r => r >= 0 && r <= 1), s"rates $rates not in [0,1]")
    val b = scoreBuckets(df, strataCols, scoreCol, idCol, fractions,
      "__bucket")
    val rArr = array(rates.map(r => lit((r * 4294967296.0).toLong)): _*)
    b.filter(idHash(col(idCol)) < element_at(rArr, col("__bucket") + 1))
      .drop("__bucket")
  }

  /** Per-stratum cap: the first `n` rows of each stratum in
    * `orderCols` order (ascending; pass a unique id last — with ties
    * AT the boundary tuple, all tying rows are kept, a deterministic
    * superset where a window's row_number would pick arbitrarily).
    * The per-source / per-domain cap every mixing recipe needs.
    *
    * Scale shape: see [[keepUpToStratumBoundary]] — the payload never
    * shuffles and no task ever sorts a whole stratum, so a corpus
    * where one domain holds 90% of the rows caps in parallel. */
  def capPerStratum(df: DataFrame, strataCols: Seq[String],
      orderCols: Seq[String], n: Int): DataFrame =
    keepUpToStratumBoundary(df, strataCols, orderCols.map(col),
      _ => lit(n.toLong))

  /** Per-stratum top-FRACTION filter: keep the best
    * `ceil(fraction × stratum size)` rows of each stratum by
    * `scoreCol` (descending, nulls last; `idCol` breaks ties, so the
    * survivor set is deterministic on any cluster) — "keep the best
    * quarter per domain by quality score", the proportional sibling of
    * [[capPerStratum]]'s absolute cap: strata keep their relative
    * sizes while everything below the per-stratum score bar drops.
    *
    * Scale shape: see [[keepUpToStratumBoundary]] — only a narrow
    * (strata, score, id) layout shuffles; the payload is filtered in
    * place by the broadcast per-stratum boundary, with no per-stratum
    * window task even under total score ties (integer-valued quality
    * scores on a mega-stratum). The descending order is encoded as an
    * ascending key tuple (null flag, −score, id); NaN scores are
    * unsupported (−NaN does not invert NaN's ordering). */
  def topFractionPerStratum(df: DataFrame, strataCols: Seq[String],
      scoreCol: String, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction not in [0,1]")
    keepUpToStratumBoundary(df, strataCols,
      Seq(col(scoreCol).isNull.cast("int"), -col(scoreCol), col(idCol)),
      n => ceil(n * lit(fraction)).cast("long"))
  }

  /** Token-budget shard packing: orders rows by `idCol`, then assigns
    * each row to shard `floor(tokens-before-it / budget)` — contiguous
    * runs of ~`budget` tokens each (a shard exceeds `budget` by at
    * most one document, never splits one; compose with
    * [[packSequences]] for context-window splitting).
    *
    * Scale shape: a naive global window (`sum over (order by id)`)
    * plans as a SINGLE-partition WindowExec — the whole corpus through
    * one task. Instead: a NARROW layout frame of just (id, weight) is
    * range-repartitioned on id, stamped with `spark_partition_id()`
    * and checkpointed (the only materialization — ~16 bytes/row, the
    * payload never persists); one long per partition reaches the
    * driver for a prefix sum; the payload then hash-joins the
    * checkpointed layout on id, broadcast-joins the per-partition
    * offsets, and a PARTITION-LOCAL running-sum window (grouped by
    * the stamped partition id, so no group ever exceeds one layout
    * partition) yields the global cumulative. Fully columnar and LAZY on the
    * payload side — every stage codegen'd Tungsten, no payload
    * materialization; driver traffic stays one long per partition.
    *
    * The returned frame's partition stamps come from that one
    * materialized copy (a recompute could sample different range
    * boundaries), so it reads the layout [[Scope.checkpoint]], which
    * lives until the caller's scope closes. Duplicate ids are
    * rejected (checked inside the subtotal job): they would fan out
    * the payload join and silently mis-assign shards. */
  /** CURRICULUM sharding: rank every row by (`scoreCol` asc, `idCol`
    * tie-break — pass a negated score for hardest-first) and assign
    * `shard = rank % nShards`, `position = rank / nShards`. A
    * dataloader reading any one shard in `position` order sees
    * monotonically increasing difficulty, and the n shards span the
    * difficulty spectrum identically — distributed curriculum
    * ordering without a coordinator. Requires unique ids and non-NaN
    * scores (same contract as [[topFractionPerStratum]]).
    *
    * Scale shape: the global rank comes from the same narrow-layout
    * machinery as [[packByBudget]] — range-partition the (score, id)
    * layout, per-partition row_number with driver prefix-sum offsets
    * (no global window task), then one hash join back to the payload
    * by id. */
  def curriculumShards(df: DataFrame, scoreCol: String, idCol: String,
      nShards: Int, shardCol: String = "shard",
      posCol: String = "position"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val spark = df.sparkSession
    val key = struct(col(scoreCol).as("k0"), col(idCol).as("k1"))
    val layout = Scope.checkpoint(df.select(col(idCol), key.as("__key"))
      .repartitionByRange(col("__key"))
      .withColumn("__p", spark_partition_id()))
    val stats = layout.groupBy("__p").agg(count(lit(1)).as("__n")).collect()
    val perPart = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the layout range-partitions by (score, id), so duplicate ids with
    // DIFFERENT scores land in different partitions — the uniqueness
    // check must be global, not per-partition (packByBudget's per-
    // partition variant is valid only because it partitions by id)
    require(layout.select(idCol).distinct().count() == perPart.values.sum,
      s"curriculumShards requires unique '$idCol' values")
    val nPart = perPart.keys.maxOption.map(_ + 1).getOrElse(0)
    var acc = 0L
    val offRows = (0 until nPart).map { p =>
      val off = acc; acc += perPart.getOrElse(p, 0L); Row(p, off)
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__p",
          org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField("__off", LongType, false))))
    // range partitioning keeps the (score, id) order contiguous per
    // partition: the window group = one layout partition — parallel,
    // bounded, never single-task
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).orderBy(col("__key"))
    val ranked = layout.join(broadcast(offDf), Seq("__p"))
      .withColumn("__rank", col("__off") + row_number().over(w) - 1L)
      .select(col(idCol),
        (col("__rank") % nShards).cast("int").as(shardCol),
        expr(s"__rank div $nShards").as(posCol))
    df.join(ranked, Seq(idCol))
  }

  def packByBudget(df: DataFrame, idCol: String, weightCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val layout = Scope.checkpoint(df
      .select(col(idCol),
        coalesce(col(weightCol).cast("long"), lit(0L)).as("__w"))
      .repartitionByRange(col(idCol))
      .withColumn("__p", spark_partition_id()))
    // duplicate ids would fan out the payload hash-join below and
    // silently inflate the cumulative sums — reject them. Piggybacked
    // on the subtotal job (no extra pass); exact, because the range
    // partitioner sends equal ids to one partition.
    val stats = layout.groupBy("__p").agg(sum("__w").as("__t"),
      count(lit(1)).as("__n"), count_distinct(col(idCol)).as("__d"))
      .collect()
    val dupes = stats.map(r => r.getLong(2) - r.getLong(3)).sum
    require(dupes == 0L,
      s"packByBudget requires unique '$idCol' values ($dupes duplicate rows)")
    val perPart = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nPart = perPart.keys.maxOption.map(_ + 1).getOrElse(0)
    var acc = 0L
    val offRows = (0 until nPart).map { p =>
      val off = acc; acc += perPart.getOrElse(p, 0L); Row(p, off)
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__p",
          org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField("__off", LongType, false))))
    // range partitioning clustered ids, so the window group = one
    // layout partition: parallel, bounded, never single-partition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // shard ids depend only on the id order and weights, not the
    // partition count — offsets absorb the layout
    df.join(layout, Seq(idCol))
      .join(broadcast(offDf), Seq("__p"))
      .withColumn("__cb", col("__off") +
        coalesce(sum(col("__w")).over(w), lit(0L)))
      .withColumn("shard", expr(s"__cb div ${budget}L"))
      .select(df.columns.map(col).toSeq :+ col("shard"): _*)
  }

  /** SEQUENCE PACKING: concatenate each [[packByBudget]] shard's
    * documents (in id order, single-space separated) into one
    * training-sequence row — the "fill every context window" step
    * that turns a sharded corpus into fixed-budget model inputs.
    * Returns (seq_id, text, n_docs, n_tokens); `n_tokens` sums the
    * caller's weight column, so it is the same budget currency
    * [[packByBudget]] packed by.
    *
    * Documents LARGER than the budget are split first, on whitespace
    * token boundaries, into budget-sized pieces (piece k = tokens
    * [k·budget, (k+1)·budget)) that enter shard assignment in (id,
    * piece) order — so no sequence ever exceeds budget + one piece
    * < 2·budget, the real context-window contract. This assumes
    * `weightCol` counts whitespace tokens for docs above the budget
    * (it is the packing currency); docs at or below the budget pass
    * through verbatim, never re-tokenized. `n_docs` counts pieces.
    *
    * Scale shape: the split is a narrow per-row explode (pieces of one
    * doc stay put); shard assignment already range-partitions by the
    * (id, piece) key, so each shard's pieces are near-contiguous; the
    * concat is one hash aggregation on the shard id whose payload per
    * group is bounded by ~2× the token budget. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = coalesce(col(weightCol).cast("long"), lit(0L))
    val toks = org.apache.spark.sql.functions.split(trim(col(textCol)), "\\s+")
    val pieces = df.select(col(idCol),
        when(w > budget,
          Hof.bind(toks, tk => // split once, not once per piece
            transform(sequence(lit(0L), floor((w - 1L) / budget)),
              k => struct(
                array_join(slice(tk, (k * budget + 1L).cast("int"),
                  lit(budget.toInt)), " ").as("t"),
                least(lit(budget), w - k * budget).as("pw")))))
          .otherwise(array(struct(col(textCol).as("t"), w.as("pw"))))
          .as("__pieces"))
      .select(col(idCol), posexplode(col("__pieces")).as(Seq("__pi", "__piece")))
      .select(struct(col(idCol).as("id"), col("__pi").as("pi")).as("__ord"),
        col("__piece.t").as(textCol), col("__piece.pw").as("__pw"))
    val sharded = packByBudget(pieces, "__ord", "__pw", budget)
    sharded.groupBy(col("shard").as("seq_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__ord"), col(textCol)))),
          s => s.getField(textCol)), " ").as("text"),
        count(lit(1)).as("n_docs"),
        sum(col("__pw")).as("n_tokens"))
  }

  /** Deterministic UP-sampling — the other half of the mixing story
    * ([[temperatureSample]] and [[mixture]] only thin): repeat each
    * row of source s `factors(s)` times, fractional parts resolved by
    * the [[idHash]] membership rule (factor 2.3 → every row twice,
    * and the first 30% of the hash space a third time) — the
    * "epochs over low-resource sources" step of mT5/DoReMi-style
    * recipes, reproducible on any cluster size. Emits a `copy`
    * column (0-based) so downstream keys stay unique as (id, copy);
    * sources absent from `factors` keep one copy. Scale shape: a
    * broadcast factor join + a narrow per-row `sequence` explode —
    * no shuffle, output size = Σ ceil-or-floor(f×n). */
  def upsample(df: DataFrame, idCol: String, groupCol: String,
      factors: Map[String, Double]): DataFrame = {
    require(factors.values.forall(f => f >= 0 && f <= 1000),
      s"factors must sit in [0, 1000]: $factors")
    val f = coalesce(element_at(typedLit(factors), col(groupCol)), lit(1.0))
    val whole = floor(f).cast("long")
    val extra = when(
      idHash(col(idCol)) < ((f - whole) * 4294967296.0).cast("long"),
      lit(1L)).otherwise(lit(0L))
    val copies = whole + extra
    // guard the empty case explicitly: sequence(0, -1) would DESCEND
    // (Spark infers step -1), not return empty — factor 0 (or a
    // fractional-only factor missing the hash band) must drop the row
    df.withColumn("copy", explode(
        when(copies <= 0L, array().cast("array<long>"))
          .otherwise(sequence(lit(0L), copies - 1L))))
      .withColumn("copy", col("copy").cast("int")) // generators can't nest in cast
  }

  /** Corpus MIXTURE sampling: greedily fill a per-source token budget
    * in a deterministic document order, keeping each row while its
    * source's running `weightCol` total stays within
    * `budgets(source)` — the data-mixing step that turns "40% web,
    * 30% code, 30% books" into a concrete document set. Sources
    * absent from `budgets` contribute nothing. The fill order is
    * `md5(id)` — engine-independent (unlike a raw hash function,
    * md5's hex form is identical everywhere), so the selected set is
    * reproducible on any cluster size or SQL engine.
    *
    * Scale shape: the naive form is a per-source running-total window
    * — one reducer PER SOURCE, and real corpora have few huge
    * sources. Instead, the [[packByBudget]] two-phase prefix sum
    * generalized per source: a NARROW layout frame of (id, source,
    * weight, md5-key) is range-partitioned on (source, md5), stamped
    * with `spark_partition_id()` and checkpointed (the only
    * materialization — the document payload never persists);
    * per-partition per-source subtotals (one row per pair) reach the
    * driver; the payload hash-joins the layout on id,
    * broadcast-joins the offsets on (partition, source), and a
    * partition-local running-sum window yields the global per-source
    * cumulative — columnar end to end, LAZY on the payload side,
    * window groups bounded by one layout partition. Driver traffic is
    * #partitions × #sources longs. The layout checkpoint pins the
    * partition stamps the offsets were computed against (see
    * [[packByBudget]]). */
  def mixture(df: DataFrame, idCol: String, weightCol: String,
      sourceCol: String, budgets: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    val layout = Scope.checkpoint(df
      .select(col(idCol), col(sourceCol),
        coalesce(col(weightCol).cast("long"), lit(0L)).as("__w"),
        md5(col(idCol).cast("string")).as("__k"))
      .repartitionByRange(col(sourceCol), col("__k"))
      .withColumn("__p", spark_partition_id()))
    // duplicate (id, source) pairs would fan out the payload join —
    // reject them (piggybacked on the subtotal job; exact, because the
    // range partitioner keeps one (source, md5(id)) in one partition).
    // The join below keys on (id, source), so a duplicate id across
    // DIFFERENT sources is legitimate and joins uniquely.
    val stats = layout
      .groupBy(col("__p"), col(sourceCol)).agg(sum("__w").as("__t"),
        count(lit(1)).as("__n"), count_distinct(col(idCol)).as("__d"))
      .collect()
    val dupes = stats.map(r => r.getLong(3) - r.getLong(4)).sum
    require(dupes == 0L,
      s"mixture requires unique ('$idCol', '$sourceCol') pairs ($dupes duplicate rows)")
    val perPart = stats.map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val nPart = perPart.keys.map(_._1).maxOption.map(_ + 1).getOrElse(0)
    val srcs = perPart.keys.map(_._2).toSeq.distinct
    // per-(partition, source) starting offsets: tokens of the same
    // source in all earlier partitions (range partitioning keeps a
    // source's rows contiguous across partition boundaries)
    val offRows = srcs.flatMap { s =>
      var acc = 0L
      (0 until nPart).map { p =>
        val off = acc; acc += perPart.getOrElse((p, s), 0L); Row(p, s, off)
      }
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__p",
          org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField(sourceCol,
          org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("__off", LongType, false))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p"), col(sourceCol)).orderBy(col("__k"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.join(layout.select(col(idCol), col(sourceCol), col("__w"), col("__k"),
        col("__p")), Seq(idCol, sourceCol))
      .join(broadcast(offDf), Seq("__p", sourceCol))
      .withColumn("__cum", col("__off") + sum(col("__w")).over(w))
      .filter(col("__cum") <=
        coalesce(element_at(typedLit(budgets), col(sourceCol)), lit(0L)))
      .select(df.columns.map(col).toSeq: _*)
  }
}
