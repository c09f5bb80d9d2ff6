package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Fused corpus-curation pipeline: named stages chained over ONE
  * input with scratch-dir SPILL between them.
  *
  * The individual curation ops ([[Dedup]], [[Text]], [[Sample]],
  * [[Similarity]]) each take and return a DataFrame, so they compose
  * lazily — but a lazily-composed chain of dedup miners is a plan
  * whose every downstream action replays every upstream miner (several
  * of them are multi-job plans with their own internal caching), and a
  * failure anywhere restarts from the source scan. [[run]] executes
  * the chain stage by stage, writing each stage's survivors to a
  * scratch parquet directory and starting the next stage from that
  * materialized, short-lineage frame:
  *
  *  - each stage runs over a plain scan, never a replay of the chain;
  *  - the per-stage survivor counts come back as a [[StageReport]]
  *    audit (the "how much did each filter remove" release table every
  *    curation run is judged by);
  *  - scratch is bounded to two stages' footprint — the previous spill
  *    is deleted once the next lands (`keepSpills = true` retains all
  *    of them for stage-by-stage debugging / restart);
  *  - the returned frame is a lazy read of the LAST spill, ready for
  *    [[Sample.writeShards]] or [[graft.sources.Corpus.exportJsonl]];
  *  - each stage runs in its own [[Scope]], so everything the stage's
  *    ops materialized is released once its spill is written (or the
  *    stage throws);
  *  - a spill may carry work a later stage reuses: in the incremental
  *    [[curateDocuments]] recipe, the spills from `near_dedup` up to
  *    `index_update` carry each document's shingle-hash set (`__hs`),
  *    which `cross_dedup` and `index_update` read instead of hashing
  *    the batch again; `index_update`'s spill, the recipe's output,
  *    drops it.
  *
  * At 100 TB the spill is the safety trade: one extra sequential
  * write+read per stage (columnar, so narrow projections stay cheap)
  * buys restartability and removes the multiplicative replay risk.
  * Callers wanting pure lazy composition can still chain the ops
  * directly — this module is the orchestration, not the operators.
  */
object Pipeline {

  /** One named transformation; `f` must be a pure DataFrame
    * transformation (it runs exactly once, against the previous
    * stage's spill). */
  final case class Stage(name: String, f: DataFrame => DataFrame)

  /** Per-stage audit row: survivors after the stage and wall-clock
    * seconds (transformation + spill + footer count). */
  final case class StageReport(stage: String, rowsOut: Long, seconds: Double)

  /** The shingle size of the incremental [[curateDocuments]] recipe's
    * near-dedup, whose hash sets its index stages reuse. */
  private val NearShingles = 3

  /** Run `stages` over `input`, spilling between stages under
    * `scratch`. Returns the final survivors (lazy over the last spill
    * — materialize or export before deleting `scratch`) and the
    * per-stage audit. */
  def run(input: DataFrame, stages: Seq[Stage], scratch: String,
      keepSpills: Boolean = false): (DataFrame, Seq[StageReport]) =
    runFrom(input, stages, scratch, keepSpills, base = 0)

  private def runFrom(input: DataFrame, stages: Seq[Stage], scratch: String,
      keepSpills: Boolean, base: Int): (DataFrame, Seq[StageReport]) = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    val spark = input.sparkSession
    val fs = new Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var cur = input
    var prevSpill: Option[Path] = None
    val reports = Seq.newBuilder[StageReport]
    stages.zipWithIndex.foreach { case (st, i) =>
      val t0 = System.nanoTime()
      val dir = new Path(scratch, f"stage-${base + i}%02d-${st.name}")
      val schema = Scope {
        val out = st.f(cur)
        out.write.mode("overwrite").parquet(dir.toString)
        out.schema
      }
      // read back with the stage's own schema (no inference job); the
      // audit count comes from the spill's parquet footers (no job):
      // the materialized survivors, not a replayed plan
      val spilled = spark.read.schema(schema).parquet(dir.toString)
      reports += StageReport(st.name,
        graft.store.Warehouse.footerRows(spark.sparkContext.hadoopConfiguration, Seq(dir)),
        (System.nanoTime() - t0) / 1e9)
      if (!keepSpills) prevSpill.foreach(p => fs.delete(p, true))
      prevSpill = Some(dir)
      cur = spilled
    }
    (cur, reports.result())
  }

  /** Restart a [[run]] whose scratch was retained (`keepSpills =
    * true`) from stage index `from` (0-based, into the SAME stage
    * list): stages `[from, end)` re-run starting from stage
    * `from - 1`'s spill, with spill numbering continued so the scratch
    * layout matches what an uninterrupted run would have produced.
    * This is the documented restartability as an API instead of a
    * manual convention — after a mid-pipeline failure (or when
    * re-tuning only the later, cheaper stages) the already-computed
    * miners never replay. Refuses loudly when the needed spill is
    * missing (the earlier run was not `keepSpills`, or `from` names a
    * stage that never completed). For `from = 0` call [[run]] — the
    * original input is not spilled. */
  def resume(spark: org.apache.spark.sql.SparkSession, stages: Seq[Stage],
      scratch: String, from: Int,
      keepSpills: Boolean = false): (DataFrame, Seq[StageReport]) = {
    require(from >= 1 && from < stages.size,
      s"resume point $from must be in [1, ${stages.size}) — " +
        "restart from 0 via run() with the original input")
    val prev = new Path(scratch, f"stage-${from - 1}%02d-${stages(from - 1).name}")
    val fs = prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(prev),
      s"no spill at $prev — the earlier run must use keepSpills = true " +
        s"and have completed stage ${from - 1} ('${stages(from - 1).name}')")
    runFrom(spark.read.parquet(prev.toString), stages.drop(from), scratch,
      keepSpills, base = from)
  }

  /** The canonical text-curation recipe, as a stage list for [[run]]:
    * Unicode hygiene (optional — [[Text.normalizeUnicode]] rewrite,
    * so downstream fingerprints see NFC-canonical bytes) →
    * domain-blocklist filter (optional, needs `urlCol` too —
    * [[Text.filterDomains]] against the curated list, the cheapest
    * cut so it runs before any content stage) →
    * URL-canonical dedup (optional) → content-fingerprint exact dedup
    * → MinHash near-dedup → quality floor (optional) → Gopher
    * line-rule floor (optional — drops docs breaching the published
    * cuts: bullet lines > 0.9, ellipsis lines > 0.3, alpha words
    * < 0.8, symbols/word > 0.1; empty docs drop too) → linear
    * classifier floor (optional — the CCNet/fastText wiki-vs-crawl
    * filter: docs scoring below `minClassifier` mean token log-odds
    * under the supplied [[graft.ops.Text.classifierWeights]] model
    * drop; docs with zero tokens score nothing and drop too) →
    * benchmark decontamination (optional, drops any doc sharing a
    * 13-gram with the eval suite) → deterministic hash downsample
    * (optional). The stages mirror the published curation pipelines
    * (C4 / RefinedWeb / FineWeb / CCNet shape): cheap exact passes
    * first so the expensive miners see an already-shrunk corpus.
    *
    * `corpusIndex` turns the recipe INCREMENTAL: `near_dedup` keeps the
    * shingle-hash sets it mined with (`__hs`, [[Dedup.hashedDedup]]) in
    * its spill, a `cross_dedup`
    * stage (after the within-batch near-dedup) drops docs near-dup
    * with the already-released corpus via the persisted MinHash index
    * at that path, and a final `index_update` stage folds this run's
    * survivors back in — append when the index exists, full build on
    * the bootstrap run (when `cross_dedup` passes everything
    * through). Existence is asked of [[IndexDir.exists]], which first
    * heals a swap a crash left half done, so an index sitting aside is
    * appended to, never rebuilt over from one batch. Batch cost scales
    * with the batch, never the corpus — the continuous-ingestion shape,
    * batch twin of the streaming minhash-filtered sink. Both index
    * stages read the carried hash sets when the index was built with
    * the recipe's shingle size ([[NearShingles]]); an index built with
    * another size makes them hash the batch at the index's size. */
  def curateDocuments(idCol: String = "doc_id", textCol: String = "text",
      urlCol: Option[String] = None, nearThreshold: Double = 0.2,
      minQuality: Double = 0.0, bench: Option[DataFrame] = None,
      benchTextCol: String = "text", contamGram: Int = 13,
      classifier: Option[DataFrame] = None,
      minClassifier: Double = 0.0,
      sampleFraction: Double = 1.0,
      html: Boolean = false,
      normalize: Boolean = false,
      gopher: Boolean = false,
      blockDomains: Option[DataFrame] = None,
      blockDomainCol: String = "domain",
      corpusIndex: Option[String] = None,
      indexThreshold: Double = 0.8): Seq[Stage] = {
    val b = Seq.newBuilder[Stage]
    // the shingle size of the hash sets near_dedup carries to the index
    // stages
    val carried = Some(NearShingles)
    // HTML extraction FIRST of all when the corpus is raw crawl
    // markup (Warc payloads): every later stage — normalize,
    // fingerprints, shingles, quality — must see visible text, not
    // tag soup (rewrites, doesn't filter)
    if (html)
      b += Stage("html_extract", df =>
        df.withColumn(textCol, Text.htmlToText(col(textCol))))
    // Unicode hygiene next when asked: NFC makes visually-identical
    // texts byte-identical, so every later fingerprint/shingle stage
    // sees the canonical form (rows_out never shrinks here — the
    // stage rewrites, it doesn't filter)
    if (normalize)
      b += Stage("normalize", df =>
        df.withColumn(textCol, Text.normalizeUnicode(col(textCol))))
    // blocklist gate before everything content-level: the cheapest
    // cut (host suffixes vs a broadcast list) shrinks every later
    // miner's input, matching the published pipeline order
    for (bd <- blockDomains; u <- urlCol)
      b += Stage("domain_filter", df =>
        Text.filterDomains(df, u, idCol, bd, blockDomainCol))
    urlCol.foreach { u =>
      b += Stage("url_dedup", df =>
        Dedup.exact(df.withColumn("__url", Text.normalizeUrl(col(u))),
          Seq("__url"), idCol).drop("__url"))
    }
    b += Stage("exact_dedup", df => Dedup.byFingerprint(df, textCol, idCol))
    b += Stage("near_dedup", df =>
      if (corpusIndex.isEmpty) Dedup.minhashDedup(df, idCol, textCol, threshold = nearThreshold)
      else Dedup.hashedDedup(df, idCol, textCol, nearThreshold, NearShingles))
    // cross-corpus dedup against a persisted minhash index: the
    // incremental-ingest gate (batch cost ∝ batch, never the corpus).
    // On the FIRST run the index does not exist yet — the stage
    // passes everything through and index_update below bootstraps it
    // from this run's survivors.
    corpusIndex.foreach { p =>
      b += Stage("cross_dedup", df =>
        if (IndexDir.exists(df.sparkSession, p))
          Dedup.dedupAgainstIndex(df, idCol, textCol, p, indexThreshold, carried)
        else df)
    }
    if (minQuality > 0)
      b += Stage("quality", df =>
        df.filter(Text.qualityScore(col(textCol)) >= minQuality))
    if (gopher) b += Stage("gopher", df =>
      df.filter(Hof.bind(Text.gopherSignals(col(textCol)), g =>
        g.getField("frac_bullet_lines") <= 0.9 &&
        g.getField("frac_ellipsis_lines") <= 0.3 &&
        g.getField("frac_alpha_words") >= 0.8 &&
        g.getField("symbol_word_ratio") <= 0.1)))
    classifier.foreach { w =>
      b += Stage("classifier", df =>
        df.join(Text.classifierScore(df, idCol, textCol, w)
            .filter(col("clf_score") >= minClassifier).select(col(idCol)),
          Seq(idCol), "left_semi"))
    }
    bench.foreach { bd =>
      b += Stage("decontaminate", df =>
        df.join(Text.decontaminate(df, idCol, textCol, bd, benchTextCol,
            contamGram).select(col(idCol)),
          Seq(idCol), "left_anti"))
    }
    if (sampleFraction < 1.0)
      b += Stage("sample", df => Sample.byHash(df, idCol, sampleFraction))
    // LAST, so only the released survivors enter the corpus index —
    // append on an existing index, full build on the bootstrap run.
    // The side effect runs while the stage materializes (the input is
    // the previous stage's spill, so a crash mid-append re-runs from
    // a durable point; appends are at-least-once safe by the
    // minhash appendToIndex contract). The recipe's output drops the
    // carried hash sets.
    corpusIndex.foreach { p =>
      b += Stage("index_update", df => {
        val spark = df.sparkSession
        if (IndexDir.exists(spark, p))
          Dedup.appendToMinhashIndex(df, idCol, textCol, p,
            IndexDir.readAs[IndexDir.MinhashMeta](spark, p, "a minhash corpus index"),
            carried)
        else Dedup.buildMinhashIndex(df, idCol, textCol, p, numHashes = 128,
          numBands = 32, shingleSize = NearShingles, carried)
        df.drop(Dedup.HashCol)
      })
    }
    b.result()
  }

  /** The EMBEDDING-side curation recipe, as a stage list for [[run]]:
    * exact duplicate drop (identical vectors — re-embedded copies of
    * the same document are byte-equal) → LSH-candidate cosine
    * near-dedup → SemDeDup within auto-trained k-means clusters
    * (catches the paraphrase-distance band the tight cosine threshold
    * keeps). The same shape [[graft.SparkEntry]]'s embed_pipeline
    * composes lazily — here each miner starts from the previous
    * stage's materialized survivors. */
  def curateEmbeddings(idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int, nearThreshold: Double = 0.99,
      semanticThreshold: Double = 0.95, semanticK: Int = 64,
      bench: Option[DataFrame] = None, benchVecCol: String = "embedding",
      decontamThreshold: Double = 0.9,
      corpusIndex: Option[String] = None): Seq[Stage] = {
    Seq(
      Stage("exact_dedup", df => Dedup.exact(df, Seq(vecCol), idCol)),
      Stage("near_dedup", df =>
        Similarity.cosineDedup(df, vecCol, idCol, nearThreshold, dims)),
      Stage("semantic_dedup", df =>
        Similarity.semanticDedupAuto(df, vecCol, idCol, semanticThreshold,
          k = semanticK))) ++
    // cross-corpus vector dedup against the persisted SemDeDup
    // cluster index — the document recipe's cross_dedup twin:
    // pass-through on the bootstrap run, probe after
    corpusIndex.map(p => Stage("cross_dedup", df =>
      if (IndexDir.exists(df.sparkSession, p))
        Similarity.semanticDedupAgainstIndex(df, vecCol, idCol, p,
          semanticThreshold)
      else df)) ++
    // mirror of the document recipe's decontaminate placement: the
    // eval-overlap gate runs over the already-deduped survivors
    bench.map(b => Stage("semantic_decontaminate", df =>
      Similarity.decontaminateSemantic(df, vecCol, idCol, b, benchVecCol,
        decontamThreshold, dims))) ++
    // LAST: released survivors fold into the cluster index (bootstrap
    // build with semanticK clusters, append + drift retrain after)
    corpusIndex.map(p => Stage("index_update", df => {
      if (IndexDir.exists(df.sparkSession, p))
        Similarity.appendToIndex(df, vecCol, idCol, p)
      else Similarity.buildSemanticIndex(df, vecCol, idCol, p, k = semanticK)
      df
    }))
  }
}
