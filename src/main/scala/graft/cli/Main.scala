package graft.cli

import java.io.{BufferedWriter, FileWriter, PrintWriter, Writer}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.Env
import graft.schema.{ColType, Registry}
import graft.store.Warehouse
import graft.view.{Filter, FilterExpr, Order}

/** `tk`-equivalent CLI (reference tanker/cli.py):
  *
  * {{{
  *   graft.cli.Main <action> [table [fields...]] [options]
  *     action: info | read | write | delete | init | serve | version
  *             | export | import  (JSONL/CSV shard dirs, WARC crawl
  *                                 archives, or WET extracted-text
  *                                 archives, --format/--shards;
  *                                 warc/wet export takes <url>
  *                                 <payload> fields; warc import
  *                                 yields url/text/status/content_type
  *                                 /fetched_at with HTML payloads
  *                                 extracted to visible text, wet
  *                                 import yields url/text/fetched_at)
  *             | snapshots | diff (--from/--to snapshot names, --summary,
  *                                 --profile = per-column drift card,
  *                                 --psi <col> = scalar shift gate)
  *             | curate (fused curation pipeline: --scratch <dir>,
  *                       --min-quality/--near/--url-col/--sample/--bench
  *                       /--blocklist [--block-field] stage flags,
  *                       --out <table> / -f <export dir>,
  *                       --keep-spills + --resume N restartability)
  *             | index (ANN index lifecycle: build/append/retrain/
  *                      recall/info over a vector table — --path dir,
  *                      --kind lsh|ivf|ivfpq|semantic|minhash, probe knobs)
  *             | embed (model-free hashed embeddings: --dims N,
  *                      --out <table> or -f <parquet dir>)
  *     --config <file>     .tk.yaml-style config: {schema: path, warehouse: path}
  *     -F/--filter <expr>  repeatable s-expression filter
  *     -s/--sort  <col[:DESC]> repeatable sort
  *     -l/--limit N  -o/--offset N
  *     -f/--file <csv>     read/write rows from/to a file (else stdout/stdin)
  *     -p/--purge          purge after write
  *     -t/--ascii-table    ascii table output
  *     --vbar [--tic c]    vertical bar plot of the last (numeric) column
  *     -H/--hide-headers
  *     --port N            port for `serve` (0 = ephemeral)
  * }}}
  */
object Main {

  final case class Opts(
      action: String = "", table: String = "", fields: Seq[String] = Nil,
      config: String = ".tk.yaml", filters: Seq[String] = Nil,
      sort: Seq[String] = Nil, limit: Option[Long] = None,
      offset: Option[Long] = None, file: Option[String] = None,
      purge: Boolean = false, asciiTable: Boolean = false,
      vbar: Boolean = false, tic: String = "•",
      hideHeaders: Boolean = false, yaml: Boolean = false,
      port: Int = 0, format: String = "jsonl", shards: Int = 0,
      from: String = "", to: String = "", summary: Boolean = false,
      profileDiff: Boolean = false,
      // curate options (see the `curate` action)
      // near < 0 = unset: resolves to 0.2 (minhash Jaccard) for the
      // document recipe, 0.99 (cosine) for --embeddings
      scratch: String = "", minQuality: Double = 0.0, near: Double = -1.0,
      urlCol: String = "", sample: Double = 1.0, bench: String = "",
      benchField: String = "text", outTable: String = "",
      blocklist: String = "", blockField: String = "domain",
      keepSpills: Boolean = false, resumeFrom: Int = -1,
      embeddings: Boolean = false,
      // classifier stage: NB log-odds weights trained on two labeled
      // tables' text columns, survivors need mean token weight >= min
      clfPos: String = "", clfNeg: String = "", minClf: Double = 0.0,
      html: Boolean = false,
      normalize: Boolean = false, gopher: Boolean = false,
      explain: Boolean = false,
      // sample/shard/pack actions: id column (defaults to the table
      // key), split band "lo,hi", leakage-group column, and the pack
      // weight column + per-shard token budget
      by: String = "", band: String = "", group: String = "",
      weight: String = "", budget: Long = 0L, score: String = "",
      psiCol: String = "",
      // index options (see the `index` action); kOpt serves recall's
      // top-k (default 10) and the semantic build's cluster count
      // (default 64)
      path: String = "", kind: String = "ivf", nlist: Int = 64,
      subM: Int = 8, kOpt: Int = -1, quantized: Boolean = false,
      queries: Int = 10, nprobe: Int = 4, probeLevel: Int = 1,
      // compact action: comma-separated z-order columns; None = plain
      // compaction, Some("") = clear the recorded z-order property
      zorder: Option[String] = None,
      // embed action: hashed-embedding dimensionality
      dims: Int = 0,
      // profile action: histogram bin count (0 = data card)
      bins: Int = 0,
      // backup action: also copy persisted index dirs under the root
      indexes: Boolean = false,
      // fsck action: delete provable garbage (orphans + stale tmp)
      reclaim: Boolean = false,
      // backup action: refresh an existing backup dir in place,
      // copying only snapshots it doesn't already hold
      incremental: Boolean = false)

  def parseArgs(argv: Seq[String]): Opts = {
    var o = Opts()
    var pos = Vector[String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--config" => o = o.copy(config = argv(i + 1)); i += 2
        case "-F" | "--filter" => o = o.copy(filters = o.filters :+ argv(i + 1)); i += 2
        case "-s" | "--sort" => o = o.copy(sort = o.sort :+ argv(i + 1)); i += 2
        case "-l" | "--limit" => o = o.copy(limit = Some(argv(i + 1).toLong)); i += 2
        case "-o" | "--offset" => o = o.copy(offset = Some(argv(i + 1).toLong)); i += 2
        case "-f" | "--file" => o = o.copy(file = Some(argv(i + 1))); i += 2
        case "-p" | "--purge" => o = o.copy(purge = true); i += 1
        case "-t" | "--ascii-table" => o = o.copy(asciiTable = true); i += 1
        case "--vbar" => o = o.copy(vbar = true); i += 1
        case "--tic" => o = o.copy(tic = argv(i + 1)); i += 2
        case "-H" | "--hide-headers" => o = o.copy(hideHeaders = true); i += 1
        case "--yaml" => o = o.copy(yaml = true); i += 1
        case "--port" => o = o.copy(port = argv(i + 1).toInt); i += 2
        case "--format" => o = o.copy(format = argv(i + 1)); i += 2
        case "--shards" => o = o.copy(shards = argv(i + 1).toInt); i += 2
        case "--from" => o = o.copy(from = argv(i + 1)); i += 2
        case "--to" => o = o.copy(to = argv(i + 1)); i += 2
        case "--summary" => o = o.copy(summary = true); i += 1
        case "--profile" => o = o.copy(profileDiff = true); i += 1
        case "--scratch" => o = o.copy(scratch = argv(i + 1)); i += 2
        case "--min-quality" =>
          o = o.copy(minQuality = argv(i + 1).toDouble); i += 2
        case "--near" => o = o.copy(near = argv(i + 1).toDouble); i += 2
        case "--url-col" => o = o.copy(urlCol = argv(i + 1)); i += 2
        case "--blocklist" => o = o.copy(blocklist = argv(i + 1)); i += 2
        case "--block-field" => o = o.copy(blockField = argv(i + 1)); i += 2
        case "--sample" => o = o.copy(sample = argv(i + 1).toDouble); i += 2
        case "--bench" => o = o.copy(bench = argv(i + 1)); i += 2
        case "--bench-field" => o = o.copy(benchField = argv(i + 1)); i += 2
        case "--embeddings" => o = o.copy(embeddings = true); i += 1
        case "--clf-pos" => o = o.copy(clfPos = argv(i + 1)); i += 2
        case "--clf-neg" => o = o.copy(clfNeg = argv(i + 1)); i += 2
        case "--min-clf" => o = o.copy(minClf = argv(i + 1).toDouble); i += 2
        case "--zorder" => o = o.copy(zorder = Some(argv(i + 1))); i += 2
        case "--dims" => o = o.copy(dims = argv(i + 1).toInt); i += 2
        case "--bins" => o = o.copy(bins = argv(i + 1).toInt); i += 2
        case "--html" => o = o.copy(html = true); i += 1
        case "--normalize" => o = o.copy(normalize = true); i += 1
        case "--gopher" => o = o.copy(gopher = true); i += 1
        case "--explain" => o = o.copy(explain = true); i += 1
        case "--by" => o = o.copy(by = argv(i + 1)); i += 2
        case "--band" => o = o.copy(band = argv(i + 1)); i += 2
        case "--group" => o = o.copy(group = argv(i + 1)); i += 2
        case "--weight" => o = o.copy(weight = argv(i + 1)); i += 2
        case "--score" => o = o.copy(score = argv(i + 1)); i += 2
        case "--psi" => o = o.copy(psiCol = argv(i + 1)); i += 2
        case "--budget" => o = o.copy(budget = argv(i + 1).toLong); i += 2
        case "--out" => o = o.copy(outTable = argv(i + 1)); i += 2
        case "--keep-spills" => o = o.copy(keepSpills = true); i += 1
        case "--resume" => o = o.copy(resumeFrom = argv(i + 1).toInt); i += 2
        case "--path" => o = o.copy(path = argv(i + 1)); i += 2
        case "--kind" => o = o.copy(kind = argv(i + 1)); i += 2
        case "--nlist" => o = o.copy(nlist = argv(i + 1).toInt); i += 2
        case "--m" => o = o.copy(subM = argv(i + 1).toInt); i += 2
        case "--k" => o = o.copy(kOpt = argv(i + 1).toInt); i += 2
        case "--quantized" => o = o.copy(quantized = true); i += 1
        case "--indexes" => o = o.copy(indexes = true); i += 1
        case "--reclaim" => o = o.copy(reclaim = true); i += 1
        case "--incremental" => o = o.copy(incremental = true); i += 1
        case "--queries" => o = o.copy(queries = argv(i + 1).toInt); i += 2
        case "--nprobe" => o = o.copy(nprobe = argv(i + 1).toInt); i += 2
        case "--probe-level" =>
          o = o.copy(probeLevel = argv(i + 1).toInt); i += 2
        case a if o.action.isEmpty => o = o.copy(action = a); i += 1
        case a => pos = pos :+ a; i += 1
      }
    }
    if (pos.nonEmpty) o = o.copy(table = pos.head, fields = pos.tail)
    o
  }

  def main(argv: Array[String]): Unit = {
    val o = parseArgs(argv.toIndexedSeq)
    if (o.action == "version") { println("0.1.0"); return }
    val spark = Env.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(o, spark, new PrintWriter(System.out, true))
    finally spark.stop()
  }

  def run(o: Opts, spark: org.apache.spark.sql.SparkSession, out: Writer): Unit = {
    val cfg: Map[String, Any] =
      if (Files.exists(Paths.get(o.config))) {
        val y = new org.yaml.snakeyaml.Yaml()
        y.load[java.util.Map[String, Object]](
          Files.readString(Paths.get(o.config))).asScala.toMap
      } else Map()
    val whRoot = cfg.getOrElse("warehouse", "warehouse").toString
    val env = cfg.get("schema") match {
      case Some(schemaPath) =>
        val reg = Registry.fromYaml(Files.readString(Paths.get(schemaPath.toString)))
        Env(spark, reg, whRoot)
      case None => // auto mode: introspect the warehouse
        Env(spark, Warehouse.introspect(spark, whRoot), whRoot)
    }
    // one scope per command: its materialized intermediates are
    // released once the command's output is written
    graft.ops.Scope(dispatch(o, env, out))
  }

  def dispatch(o: Opts, env: Env, out: Writer): Unit = o.action match {
    case "init" => env.createTables()

    case "info" =>
      if (o.table.nonEmpty) {
        val td = env.registry(o.table)
        td.columns.sortBy(_.name).foreach { c =>
          val details = c.ctype match {
            case ColType.M2O(t, cc, _) => s"M2O -> $t.$cc"
            case ColType.O2M(t, cc) => s"O2M -> $t.$cc"
            case other => other.decl.toUpperCase
          }
          out.write(s"${c.name} ($details)\n")
        }
        // brin observability: how clustered is the table right now?
        if (td.useIndex.equalsIgnoreCase("brin") && td.external.isEmpty)
          env.warehouse.currentManifest(o.table).foreach { m =>
            val snaps = m.zones.map(_.dir.split("/")(0)).distinct.size
            out.write(s"zones: ${m.zones.size} on ${td.key.head} " +
              s"across $snaps snapshot(s)\n")
            if (m.zorder.nonEmpty)
              out.write(s"zorder: ${m.zorder.mkString(",")}\n")
          }
        td.compression.foreach(c => out.write(s"compression: $c\n"))
        if (td.bloom) out.write(s"bloom: ${td.key.mkString(",")}\n")
      } else env.registry.names.sorted.foreach(n => out.write(n + "\n"))

    case "read" =>
      val fields = if (o.fields.nonEmpty) o.fields else null
      val view = env.view(o.table, fields)
      val order = o.sort.map { s =>
        if (s.contains(":")) { val Array(c, d) = s.split(":", 2); Order(c, d) }
        else Order(s)
      }
      val df = view.read(o.filters.map(FilterExpr.apply),
        order = order, limit = o.limit, offset = o.offset)
      // --explain: the compiled physical plan instead of rows — shows
      // parquet pushdown (PushedFilters/ReadSchema), zone pruning (the
      // scan's file count) and codegen spans, the operator's window
      // into what the s-expression actually planned to
      if (o.explain) out.write(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) + "\n")
      else emit(df, o, out)

    case "write" =>
      val (fields, data) = readInput(o)
      env.view(o.table, fields.orNull).write(data, purge = o.purge)

    case "delete" =>
      val (fields, data) =
        if (o.file.isDefined) readInput(o)
        else (Option(o.fields).filter(_.nonEmpty), null)
      env.view(o.table, fields.orNull)
        .delete(filters = o.filters.map(FilterExpr.apply): Seq[Filter], data = data)

    // extension: corpus interchange — dump a (filtered) table as
    // JSONL/CSV shards + schema sidecar (sources/Corpus) or as WARC
    // response records (sources/Warc, exactly two fields: url +
    // payload), or merge such a directory back in through the full
    // upsert path. `import --format warc` is the crawl-ingest shape:
    // response records become (url, text, status, content_type,
    // fetched_at) rows, HTML payloads extracted to visible text
    case "export" =>
      requireFormat(o, Set("jsonl", "csv", "warc", "wet"))
      val dir = o.file.getOrElse(throw new IllegalArgumentException(
        "export needs -f/--file <dir>"))
      val fields = if (o.fields.nonEmpty) o.fields else null
      val df = env.view(o.table, fields).read(o.filters.map(FilterExpr.apply))
      if (o.format == "warc" || o.format == "wet") {
        if (o.fields.size != 2) throw new IllegalArgumentException(
          s"export --format ${o.format} needs exactly two fields: <url> <payload>")
        graft.sources.Warc.write(df, dir, o.fields.head, o.fields(1),
          shards = math.max(1, o.shards), wet = o.format == "wet")
      }
      else if (o.format == "csv") graft.sources.Corpus.exportCsv(df, dir, o.shards)
      else graft.sources.Corpus.exportJsonl(df, dir, o.shards)
      out.write(s"exported ${o.table} to $dir (${o.format})\n")

    case "import" =>
      requireFormat(o, Set("jsonl", "csv", "warc", "wet"))
      val dir = o.file.getOrElse(throw new IllegalArgumentException(
        "import needs -f/--file <dir>"))
      val df =
        if (o.format == "warc") {
          import org.apache.spark.sql.functions.{coalesce, col, lit, lower, when}
          // charset-aware: the page's own Content-Type (or BOM) names
          // the encoding; crawls are not all UTF-8
          val txt = graft.functions.TextKernels.decodeText(
            col("payload"), col("http_content_type"))
          graft.sources.Warc.read(env.spark, dir).select(
            col("target_uri").as("url"),
            when(lower(coalesce(col("http_content_type"), lit("")))
                .contains("html"), graft.ops.Text.htmlToText(txt))
              .otherwise(txt).as("text"),
            col("http_status").as("status"),
            col("http_content_type").as("content_type"),
            col("warc_date").as("fetched_at"))
        }
        else if (o.format == "wet") {
          // WET conversion records are already extracted plain text
          // (UTF-8 by convention; a BOM still wins in the decoder)
          import org.apache.spark.sql.functions.col
          graft.sources.Warc.read(env.spark, dir,
              warcTypes = Seq("conversion")).select(
            col("target_uri").as("url"),
            graft.functions.TextKernels.decodeText(col("payload"),
              col("http_content_type")).as("text"),
            col("warc_date").as("fetched_at"))
        }
        else if (o.format == "csv") graft.sources.Corpus.importCsv(env.spark, dir)
        else graft.sources.Corpus.importJsonl(env.spark, dir)
      val res = env.view(o.table, df.columns.toSeq).write(df, purge = o.purge)
      out.write(s"imported $dir into ${o.table}\n")

    // extension: snapshot diff — what changed in a table between two
    // retained snapshots (Env.diffSnapshots; defaults to the last two,
    // i.e. "what did the most recent write change"). `snapshots` lists
    // the retained names to pass as --from/--to; --summary rolls up
    // per-kind counts, --profile switches to the per-column data-card
    // drift (Env.compareSnapshots) instead of key-level rows.
    case "diff" =>
      // --psi <numeric col>: the scalar distribution-shift gate
      // (Env.psiSnapshots) instead of rows; --profile: the per-column
      // drift card; default: key-level change rows
      val d =
        if (o.psiCol.nonEmpty) env.psiSnapshots(o.table, o.psiCol,
          Option(o.from).filter(_.nonEmpty), Option(o.to).filter(_.nonEmpty))
        else if (o.profileDiff) env.compareSnapshots(o.table,
          Option(o.from).filter(_.nonEmpty), Option(o.to).filter(_.nonEmpty))
        else env.diffSnapshots(o.table,
          Option(o.from).filter(_.nonEmpty), Option(o.to).filter(_.nonEmpty),
          summary = o.summary)
      emit(d.orderBy(d.columns.map(
        org.apache.spark.sql.functions.col).toIndexedSeq: _*), o, out)

    case "snapshots" =>
      env.warehouse.snapshots(o.table).foreach(sn => out.write(sn + "\n"))

    // extension: warehouse integrity + space audit (Warehouse.fsck) —
    // broken catalog references, orphaned snapshots with reclaimable
    // bytes, torn swaps, unapplied journals, foreign lease. --reclaim
    // deletes the provable garbage (orphans + stale tmp only).
    case "fsck" =>
      val issues = env.warehouse.fsck(reclaim = o.reclaim)
      if (issues.isEmpty) out.write("warehouse clean\n")
      else {
        issues.foreach { i =>
          val tbl = if (i.table.isEmpty) "-" else i.table
          val sz = if (i.bytes > 0) s" [${i.bytes} B]" else ""
          out.write(s"${i.kind}  $tbl  ${i.path}$sz  ${i.detail}\n")
        }
        val rb = issues.filter(i =>
          i.kind == "orphan-snapshot" || i.kind == "stale-tmp")
        out.write(s"${issues.size} issue(s); ${rb.map(_.bytes).sum} B " +
          (if (o.reclaim) "reclaimed\n" else "reclaimable (tk fsck --reclaim)\n"))
      }

    // extension: the deterministic sampler family on the CLI — the
    // "reproducible slice / leakage-safe split" steps of a
    // training-data pipeline (ops/Sample). All selections are
    // stateless id-hash rules: reruns pick the SAME rows on any
    // cluster size, and complementary --band calls partition the
    // table exactly. --sample f keeps the first f of the hash space;
    // --band lo,hi a disjoint band of it; --group makes the band
    // atomic over a group column (site/source/author) so near-dup
    // groups never straddle a split. Rows emit like `read`, or land
    // in --out <table> through the full upsert path.
    case "sample" =>
      val fields = if (o.fields.nonEmpty) o.fields else null
      val df = env.view(o.table, fields).read(o.filters.map(FilterExpr.apply))
      val picked =
        if (o.band.nonEmpty) {
          val parts = o.band.split(",").map(_.trim.toDouble)
          require(parts.length == 2,
            s"--band needs lo,hi fractions, got '${o.band}'")
          if (o.group.nonEmpty)
            graft.ops.Sample.splitByGroup(df, o.group, parts(0), parts(1))
          else graft.ops.Sample.split(df, sampleId(o, env, df), parts(0),
            parts(1))
        } else graft.ops.Sample.byHash(df, sampleId(o, env, df), o.sample)
      if (o.outTable.nonEmpty) {
        env.view(o.outTable, picked.columns.toSeq).write(picked)
        out.write(s"sampled ${o.table} into ${o.outTable}\n")
      } else emit(picked, o, out)

    // extension: materialized global shuffle — write the table as
    // --shards N directories, each one file, rows in a fixed
    // pseudo-random order (Sample.writeShards): the training-shard
    // layout dataloaders stream. One exchange regardless of size.
    case "shard" =>
      require(o.shards > 0, "shard needs --shards <n>")
      val dir = o.file.getOrElse(throw new IllegalArgumentException(
        "shard needs -f/--file <dir>"))
      val fields = if (o.fields.nonEmpty) o.fields else null
      val df = env.view(o.table, fields).read(o.filters.map(FilterExpr.apply))
      // --score <col> switches from the stateless global shuffle to
      // CURRICULUM layout: shards balanced round-robin by (score, id)
      // rank, each reading easy-to-hard in position order
      if (o.score.nonEmpty) {
        graft.ops.Sample.curriculumShards(df, o.score,
            sampleId(o, env, df), o.shards, posCol = "pos")
          .repartition(o.shards, org.apache.spark.sql.functions.col("shard"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("shard"),
            org.apache.spark.sql.functions.col("pos"))
          .write.mode("overwrite").partitionBy("shard").parquet(dir)
        out.write(s"wrote ${o.shards} curriculum shard(s) of ${o.table} " +
          s"by ${o.score} to $dir\n")
      } else {
        graft.ops.Sample.writeShards(df, sampleId(o, env, df), o.shards, dir)
        out.write(s"wrote ${o.shards} shard(s) of ${o.table} to $dir\n")
      }

    // extension: token-budget packing on the CLI — Sample.packByBudget
    // assigns contiguous ~--budget-weight runs of rows to shards
    // (deterministic id order, two-phase prefix sum, no single-task
    // window) and the writer lands one file per shard dir — the
    // "shards balanced by tokens, not rows" training-export layout.
    case "pack" =>
      val dir = o.file.getOrElse(throw new IllegalArgumentException(
        "pack needs -f/--file <dir>"))
      require(o.weight.nonEmpty, "pack needs --weight <token-count column>")
      require(o.budget > 0, "pack needs --budget <tokens per shard>")
      val fields = if (o.fields.nonEmpty) o.fields else null
      val df = env.view(o.table, fields).read(o.filters.map(FilterExpr.apply))
      val idc = sampleId(o, env, df)
      val packed = graft.ops.Sample.packByBudget(df, idc, o.weight, o.budget)
      val sc = org.apache.spark.sql.functions.col("shard")
      packed.repartition(sc)
        .sortWithinPartitions(sc, org.apache.spark.sql.functions.col(idc))
        .write.mode("overwrite").partitionBy("shard").parquet(dir)
      out.write(s"packed ${o.table} by ${o.weight} into $dir\n")

    // extension: consistent whole-warehouse backup — the single-file
    // root catalog pins a transactionally consistent cross-table cut;
    // the destination is itself a functional warehouse root (restore =
    // point --config's warehouse at it). See Warehouse.backup.
    case "backup" =>
      val dest = o.file.getOrElse(throw new IllegalArgumentException(
        "backup needs -f/--file <dest dir>"))
      val leftBehind = env.warehouse.backup(dest,
        includeIndexes = o.indexes, incremental = o.incremental)
      out.write(s"warehouse backed up to $dest\n")
      // loud, not silent: a restore without these re-bootstraps every
      // index from the full corpus — pass --indexes to copy them too
      if (leftBehind.nonEmpty)
        out.write("indexes left behind (use --indexes to include):\n" +
          leftBehind.map(p => s"  $p\n").mkString)

    // restore = backup in reverse: a backup dir IS a warehouse root,
    // so copy its live state into this config's (empty) warehouse via
    // the same pinned-catalog machinery. Refuses loudly if the target
    // already holds a catalog (no silent clobber).
    case "restore" =>
      val src = o.file.getOrElse(throw new IllegalArgumentException(
        "restore needs -f/--file <backup dir>"))
      // indexes present in the backup were requested at backup time —
      // restore always brings them back (no-op when none were copied).
      // --incremental = failback catch-up: refresh a stale primary
      // from the standby in place, copying only the missing snapshots
      new graft.store.Warehouse(env.spark, src, env.registry)
        .backup(env.warehouse.root, includeIndexes = true,
          incremental = o.incremental)
      out.write(s"warehouse restored from $src\n")

    // layout maintenance: collapse fragmented snapshots/zones; with
    // --zorder a,b also (re)cluster a brin table on that z-order and
    // record it as the table property (--zorder "" clears it) — see
    // Warehouse.compactZOrder
    case "compact" =>
      o.zorder match {
        case Some(cols) => env.warehouse.compactZOrder(o.table,
          cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        case None => env.warehouse.compact(o.table)
      }
      env.warehouse.currentManifest(o.table).foreach { m =>
        out.write(s"zones: ${m.zones.size}" +
          (if (m.zorder.nonEmpty) s" zorder: ${m.zorder.mkString(",")}"
           else "") + "\n")
      }

    case "serve" => // blocks; contrib/bottle.py analogue over HTTP
      val srv = new graft.web.Server(env, o.port)
      val port = srv.start()
      out.write(s"serving on http://127.0.0.1:$port\n"); out.flush()
      try Thread.currentThread().join() finally srv.stop()

    // extension: one-shot data card — per-column completeness,
    // cardinality, range (ops/Profile) through the View/ACL layer
    // --bins N renders the fixed-width histogram of ONE column (grid
    // derived from its min/max; pair with --vbar for the ascii plot);
    // --k N prints its top-N frequent values. Default: the data card.
    case "profile" if o.bins > 0 || o.kOpt > 0 =>
      val colName = o.fields.headOption.getOrElse(
        throw new IllegalArgumentException(
          "profile --bins/--k needs a column"))
      // dotted FK fields read as literal dotted column names, which
      // col() would parse as a struct path — rename before the op
      val base = env.view(o.table, Seq(colName))
        .read(o.filters.map(FilterExpr.apply))
        .withColumnRenamed(colName, "__pcol")
      val d =
        if (o.kOpt > 0) graft.ops.Profile.topValues(base, "__pcol", o.kOpt)
        else {
          import org.apache.spark.sql.functions.{col => c, min => mn, max => mx}
          val mm = base.agg(mn(c("__pcol").cast("double")),
            mx(c("__pcol").cast("double"))).head()
          require(!mm.isNullAt(0),
            s"'$colName' has no non-null values to bin")
          val lo = mm.getDouble(0)
          val hi0 = mm.getDouble(1)
          val hi = if (hi0 > lo) hi0 else lo + 1.0
          graft.ops.Profile.histogram(base, "__pcol", lo, hi, o.bins)
            .orderBy(c("bin"))
        }
      emit(d, o, out)
    case "profile" =>
      val td = env.registry(o.table)
      val cols0 =
        if (o.fields.nonEmpty) o.fields
        else td.physical.map(_.name).filterNot(_ == "id")
      // --group <col>: per-group data cards (Profile.columnsBy) — the
      // per-source/per-language rows of a corpus datasheet
      if (o.group.nonEmpty) {
        val cols = cols0.filterNot(_ == o.group)
        require(cols.nonEmpty, s"profile --group ${o.group} needs " +
          "at least one other column to profile")
        val base = env.view(o.table, (cols :+ o.group).distinct)
          .read(o.filters.map(FilterExpr.apply))
        emit(graft.ops.Profile.columnsBy(base, cols, o.group)
          .orderBy(org.apache.spark.sql.functions.col("group"),
            org.apache.spark.sql.functions.col("column")), o, out)
      } else {
        val base = env.view(o.table, cols0)
          .read(o.filters.map(FilterExpr.apply))
        emit(graft.ops.Profile.columns(base, cols0)
          .orderBy(org.apache.spark.sql.functions.col("column")), o, out)
      }

    // extension: atomic multi-action batch — the CLI face of the web
    // /_txn endpoint (the reference bottle plugin's per-request commit,
    // contrib/bottle.py:12-28). Input (--file or stdin) is the same
    // JSON/YAML body: {"actions": [{"op": "write"|"delete", ...}]};
    // all actions become visible together, or none on any failure.
    case "txn" =>
      val text = o.file match {
        case Some(f) => Files.readString(Paths.get(f))
        case None => scala.io.Source.stdin.mkString
      }
      val body = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](text).asScala
      val actions = body("actions")
        .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
        .asScala.toSeq.map(_.asScala)
      env.transaction {
        actions.foreach { m =>
          val table = String.valueOf(m("table"))
          String.valueOf(m("op")) match {
            case "write" =>
              val fields = m("fields").asInstanceOf[java.util.List[_]]
                .asScala.toSeq.map(String.valueOf(_))
              val data = m("rows").asInstanceOf[java.util.List[java.util.List[_]]]
                .asScala.toSeq.map(_.asScala.toSeq: Seq[Any])
              env.view(table, fields).write(data): Unit
            case "delete" =>
              val filters = m.get("filters")
                .map(_.asInstanceOf[java.util.List[_]].asScala.toSeq
                  .map(String.valueOf(_))).getOrElse(Nil)
              env.view(table)
                .delete(filters = filters.map(FilterExpr.apply): Seq[Filter]): Unit
            case other =>
              throw new IllegalArgumentException(s"unknown op '$other'")
          }
        }
      }
      out.write(s"applied ${actions.size} action(s) atomically\n")

    // extension: fused curation over a managed table — the CLI face of
    // ops/Pipeline's curateDocuments recipe. Stages are flag-selected
    // (--html prepends visible-text extraction for raw-crawl corpora,
    // --normalize prepends the Unicode-hygiene rewrite,
    // --url-col adds url_dedup, --min-quality > 0 adds the quality
    // floor, --gopher adds the published Gopher line-rule floor,
    // --clf-pos/--clf-neg train the NB log-odds classifier on
    // two labeled tables and add the classifier floor at --min-clf,
    // --bench <table> adds decontamination against that table's
    // --bench-field column, --sample < 1 adds the hash downsample);
    // exact + minhash near-dedup always run. Prints the per-stage
    // StageReport audit through the ascii renderer; survivors go to a
    // managed table (--out) and/or an export dir (-f + --format).
    // --keep-spills retains every stage under --scratch so a failed or
    // re-tuned run restarts with --resume N (Pipeline.resume) instead
    // of replaying the miners. Positional fields name the id and text
    // columns (default doc_id text). --embeddings switches to the
    // vector recipe (curateEmbeddings: exact → cosine near-dedup at
    // --near, default 0.99 → SemDeDup with --k clusters) over
    // (vec_id, embedding) positionals.
    // --from <snapshot> curates only the DELTA: rows whose key was
    // added or changed since that retained snapshot (the incremental-
    // ingest call, paired with --path <minhash index dir> which adds
    // the cross_dedup probe against the already-released corpus and
    // the index_update append of this run's survivors).
    case "curate" =>
      if (o.scratch.isEmpty)
        throw new IllegalArgumentException("curate needs --scratch <dir>")
      val full = env.view(o.table).read(o.filters.map(FilterExpr.apply))
      val input = Option(o.from).filter(_.nonEmpty).map { snap =>
        val keys = env.registry(o.table).key
        val delta = env.diffSnapshots(o.table, from = Some(snap))
          .filter(org.apache.spark.sql.functions.col("change") =!=
            "removed")
          .select(keys.map(org.apache.spark.sql.functions.col): _*)
        full.join(delta, keys, "left_semi")
      }.getOrElse(full)
      val stages =
        if (o.embeddings) {
          // vector recipe: exact → cosine near-dedup → SemDeDup. The
          // warehouse `float` type is double-precision; the vector
          // ops run on float32, so the column normalizes on read
          val idCol = o.fields.headOption.getOrElse("vec_id")
          val vecCol = o.fields.drop(1).headOption.getOrElse("embedding")
          val dims = graft.ops.Similarity.vectorDims(input, vecCol)
          // --bench <table> adds the semantic eval-overlap gate: its
          // vector column is --bench-field when given, else this
          // table's vector column name
          val bench = Option(o.bench).filter(_.nonEmpty).map { t =>
            val bcol = if (o.benchField != "text") o.benchField else vecCol
            env.view(t, Seq(bcol)).read()
              .withColumn(bcol, org.apache.spark.sql.functions.col(bcol)
                .cast("array<float>"))
          }
          val benchCol = if (o.benchField != "text") o.benchField else vecCol
          graft.ops.Pipeline.Stage("float32", df =>
            df.withColumn(vecCol, org.apache.spark.sql.functions.col(vecCol)
              .cast("array<float>"))) +:
            graft.ops.Pipeline.curateEmbeddings(idCol, vecCol, dims,
              nearThreshold = if (o.near >= 0) o.near else 0.99,
              semanticK = if (o.kOpt > 0) o.kOpt else 64,
              bench = bench, benchVecCol = benchCol,
              corpusIndex = Option(o.path).filter(_.nonEmpty))
        } else {
          val idCol = o.fields.headOption.getOrElse("doc_id")
          val textCol = o.fields.drop(1).headOption.getOrElse("text")
          val bench = Option(o.bench).filter(_.nonEmpty)
            .map(t => env.view(t, Seq(o.benchField)).read())
          // --clf-pos/--clf-neg train the NB log-odds model from two
          // labeled tables' text columns (both required together)
          require(o.clfPos.isEmpty == o.clfNeg.isEmpty,
            "curate needs BOTH --clf-pos and --clf-neg (or neither)")
          val clf = Option(o.clfPos).filter(_.nonEmpty).map { p =>
            graft.ops.Text.classifierWeights(
              env.view(p, Seq(textCol)).read(), textCol,
              env.view(o.clfNeg, Seq(textCol)).read(), textCol)
          }
          val block = Option(o.blocklist).filter(_.nonEmpty)
            .map(t => env.view(t, Seq(o.blockField)).read())
          require(block.isEmpty || o.urlCol.nonEmpty,
            "curate --blocklist needs --url-col too")
          graft.ops.Pipeline.curateDocuments(idCol, textCol,
            urlCol = Option(o.urlCol).filter(_.nonEmpty),
            blockDomains = block, blockDomainCol = o.blockField,
            corpusIndex = Option(o.path).filter(_.nonEmpty),
            nearThreshold = if (o.near >= 0) o.near else 0.2,
            minQuality = o.minQuality,
            bench = bench, benchTextCol = o.benchField,
            classifier = clf, minClassifier = o.minClf,
            sampleFraction = o.sample, html = o.html,
            normalize = o.normalize, gopher = o.gopher)
        }
      val (survivors, reports) =
        if (o.resumeFrom >= 0)
          graft.ops.Pipeline.resume(env.spark, stages, o.scratch,
            o.resumeFrom, keepSpills = o.keepSpills)
        else graft.ops.Pipeline.run(input,
          stages, o.scratch, keepSpills = o.keepSpills)
      Render.asciiTable(reports.map(r => Seq(r.stage, r.rowsOut.toString,
          f"${r.seconds}%.2f")), Some(Seq("stage", "rows_out", "seconds")))
        .foreach(out.write)
      Option(o.outTable).filter(_.nonEmpty).foreach { t =>
        env.view(t, survivors.columns.toSeq).write(survivors): Unit
        out.write(s"wrote survivors into $t\n")
      }
      o.file.foreach { dir =>
        requireFormat(o)
        if (o.format == "csv")
          graft.sources.Corpus.exportCsv(survivors, dir, o.shards)
        else graft.sources.Corpus.exportJsonl(survivors, dir, o.shards)
        out.write(s"exported survivors to $dir (${o.format})\n")
      }

    // extension: ANN index lifecycle over a managed vector table — the
    // CLI face of ops/Similarity's index families. Sub-actions:
    //   tk index build   <table> <id> <vec|text> --path d --kind lsh|ivf|ivfpq|semantic|minhash
    //                    [--nlist N] [--m M] [--k K] [--quantized]
    //   tk index append  <table> <id> <vec> --path d   (-F narrows the batch)
    //   tk index retrain <id> <vec> --path d           (kind from the meta)
    //   tk index recall  <table> <id> <vec> --path d [--k] [--queries]
    //                    [--nprobe] [--probe-level]    (per-query recall rows)
    //   tk index info    --path d                      (meta, arrays summarized)
    // Vector dims derive from the table's first non-null vector at
    // build; append / retrain dispatch on the index's own metadata.
    // extension: model-free hashed embeddings — Text.hashEmbed turns
    // a text table into an L2-normalized vector table ready for
    // `tk index build` / `tk curate --embeddings`. Positionals name
    // the id and text columns (defaults doc_id/text); --out writes a
    // managed table (declare it with a float[] column), -f exports a
    // parquet dir.
    case "embed" =>
      require(o.dims > 0, "embed needs --dims <vector dimensions>")
      val idCol = o.fields.headOption.getOrElse("doc_id")
      val textCol = o.fields.drop(1).headOption.getOrElse("text")
      val df = env.view(o.table, Seq(idCol, textCol))
        .read(o.filters.map(FilterExpr.apply))
      val emb = graft.ops.Text.hashEmbed(df, textCol, o.dims)
        .select(idCol, "embedding")
      (Option(o.outTable).filter(_.nonEmpty), o.file) match {
        case (Some(t), _) =>
          env.view(t, Seq(idCol, "embedding")).write(emb): Unit
          out.write(s"embedded ${o.table} (${o.dims}d) into $t\n")
        case (None, Some(dir)) =>
          emb.write.mode("overwrite").parquet(dir)
          out.write(s"embedded ${o.table} (${o.dims}d) into $dir\n")
        case _ => throw new IllegalArgumentException(
          "embed needs --out <table> or -f/--file <parquet dir>")
      }

    case "index" =>
      import graft.ops.Similarity
      def path(): String = {
        if (o.path.isEmpty)
          throw new IllegalArgumentException("index needs --path <dir>")
        o.path
      }
      def tiv(): (String, String, String) = {
        if (o.fields.size < 3) throw new IllegalArgumentException(
          s"index ${o.table} needs <table> <idField> <vecField>")
        (o.fields.head, o.fields(1), o.fields(2))
      }
      // graft's `float` column type is double-precision (like the
      // reference); the ANN families operate on float32 vectors, so
      // the lifecycle normalizes a vector column once on read (a text
      // column, for a minhash index, passes through)
      def rows(t: String, id: String, v: String) = {
        val df = env.view(t, Seq(id, v)).read(o.filters.map(FilterExpr.apply))
        if (!df.schema(v).dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType]) df
        else df.withColumn(v, org.apache.spark.sql.functions.col(v)
          .cast("array<float>"))
      }
      def kind() = graft.ops.IndexDir.read(env.spark, path()).kind
      o.table match {
        // --kind minhash: the TEXT corpus index (Dedup.buildMinhashIndex)
        // — third positional is the text column, no dims to derive
        case "build" if o.kind == "minhash" =>
          val (t, id, tc) = tiv()
          graft.ops.Dedup.buildMinhashIndex(rows(t, id, tc), id, tc, path())
          out.write(s"built minhash index at ${o.path}\n")
        case "build" =>
          val (t, id, v) = tiv()
          val df = rows(t, id, v)
          val dims = Similarity.vectorDims(df, v)
          o.kind match {
            case "lsh" => Similarity.buildIndex(df, v, id, path(), dims)
            case "ivf" => Similarity.buildIvfIndex(df, v, id, path(), dims,
              nlist = o.nlist, quantized = o.quantized)
            case "ivfpq" => Similarity.buildIvfPqIndex(df, v, id, path(),
              dims, nlist = o.nlist, m = o.subM)
            case "semantic" => Similarity.buildSemanticIndex(df, v, id,
              path(), k = if (o.kOpt > 0) o.kOpt else 64)
            case other => throw new IllegalArgumentException(
              s"unknown --kind '$other' (lsh|ivf|ivfpq|semantic|minhash)")
          }
          out.write(s"built ${o.kind} index at ${o.path} ($dims dims)\n")
        case "append" =>
          val (t, id, v) = tiv()
          Similarity.appendToIndex(rows(t, id, v), v, id, path())
          out.write(s"appended into ${kind()} index at ${o.path}\n")
        case "retrain" =>
          if (o.fields.size < 2) throw new IllegalArgumentException(
            "index retrain needs <idField> <vecField>")
          val (id, v) = (o.fields.head, o.fields(1))
          Similarity.retrainIndex(env.spark, path(), v, id)
          out.write(s"retrained ${kind()} index at ${o.path}\n")
        case "recall" =>
          val (t, id, v) = tiv()
          emit(Similarity.recallAtK(env.spark, path(), rows(t, id, v), v, id,
            k = if (o.kOpt > 0) o.kOpt else 10, nQueries = o.queries,
            nprobe = o.nprobe, probeLevel = o.probeLevel), o, out)
        case "info" =>
          graft.ops.IndexDir.read(env.spark, path()).fields.sortBy(_._1)
            .foreach { case (k, v) =>
              val shown = v match {
                case l: Seq[_] => s"[${l.size} entries]"
                case other => String.valueOf(other)
              }
              out.write(s"$k: $shown\n")
            }
        case other => throw new IllegalArgumentException(
          s"unknown index sub-action '$other' " +
            "(build|append|retrain|recall|info)")
      }

    case other => out.write(s"""Action "$other" not supported\n""")
  }

  /** An unknown --format must fail loudly, not silently fall back to
    * JSONL (a typo'd `--format josnl` would otherwise produce a shard
    * dir in a different format than the operator asked for). */
  private def requireFormat(o: Opts,
      allowed: Set[String] = Set("jsonl", "csv")): Unit =
    if (!allowed.contains(o.format))
      throw new IllegalArgumentException(
        s"unknown --format '${o.format}' (expected ${allowed.mkString(" or ")})")

  /** Shared result rendering: csv (default), --yaml, --ascii-table or
    * --vbar, to stdout or --file. */
  /** Id column for the hash-rule samplers: --by, else the surrogate
    * `id` when selected, else the leading key. The id-hash rules are
    * integer arithmetic, so a non-integral column is refused loudly
    * (point at --by) instead of hashing nulls silently. */
  private def sampleId(o: Opts, env: Env,
      df: org.apache.spark.sql.DataFrame): String = {
    val idc =
      if (o.by.nonEmpty) o.by
      else if (df.columns.contains("id")) "id"
      else env.registry(o.table).key.head
    require(df.columns.contains(idc),
      s"id column '$idc' is not among the selected fields")
    val t = df.schema(idc).dataType.simpleString
    require(Set("bigint", "int", "smallint", "tinyint").contains(t),
      s"id column '$idc' is $t; the hash samplers need an integral id" +
      " — pick one with --by (or use --group for string keys)")
    idc
  }

  private def emit(df: org.apache.spark.sql.DataFrame, o: Opts, out: Writer): Unit = {
    val headers = df.columns.toSeq
    val rows = df.collect().map(_.toSeq.map(v => if (v == null) "" else v)).toSeq
    val sink: Writer = o.file match {
      case Some(f) => new BufferedWriter(new FileWriter(f))
      case None => out
    }
    try {
      if (o.yaml)
        rows.foreach { r =>
          sink.write(headers.zip(r).zipWithIndex.map { case ((h, v), i) =>
            (if (i == 0) "- " else "  ") + h + ": " + String.valueOf(v)
          }.mkString("", "\n", "\n"))
        }
      else if (o.asciiTable)
        Render.asciiTable(rows.map(_.map(String.valueOf)),
          if (o.hideHeaders) None else Some(headers)).foreach(sink.write)
      else if (o.vbar)
        Render.vbar(rows, tic = o.tic).foreach(sink.write)
      else {
        if (!o.hideHeaders) sink.write(Render.csvRow(headers))
        rows.foreach(r => sink.write(Render.csvRow(r.map(String.valueOf))))
      }
      sink.flush()
    } finally if (o.file.isDefined) sink.close()
  }

  /** CSV (or --yaml list-of-maps) input: first csv row is the header
    * (field names) unless fields were given on the command line
    * (cli.py:137-160). */
  private def readInput(o: Opts): (Option[Seq[String]], Seq[Seq[Any]]) = {
    val text = o.file match {
      case Some(f) => Files.readString(Paths.get(f))
      case None => scala.io.Source.stdin.mkString
    }
    if (o.yaml) {
      val y = new org.yaml.snakeyaml.Yaml()
      val docs = y.load[java.util.List[java.util.Map[String, Object]]](text)
        .asScala.toSeq.map(_.asScala.toMap)
      val fields =
        if (o.fields.nonEmpty) o.fields
        else docs.headOption.map(_.keys.toSeq).getOrElse(Nil)
      (Some(fields), docs.map(d => fields.map(f => d.get(f).orNull: Any)))
    } else {
      val parsed = text.linesIterator.filter(_.nonEmpty)
        .map(Render.parseCsvRow).toSeq
      if (o.fields.nonEmpty) (Some(o.fields), parsed)
      else if (parsed.isEmpty) (None, Nil)
      else (Some(parsed.head), parsed.tail)
    }
  }
}

/** Output renderers, ported from the reference (cli.py:82-134). */
object Render {

  def csvRow(vals: Seq[String]): String =
    vals.map { v =>
      if (v.exists(c => c == ',' || c == '"' || c == '\n'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString(",") + "\n"

  def parseCsvRow(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') {
          sb += '"'; i += 1
        } else if (c == '"') inQ = false
        else sb += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.clear()
        case _ => sb += c
      }
      i += 1
    }
    out += sb.toString
    out.toSeq
  }

  /** Column-aligned ascii table (cli.py:82-98). */
  def asciiTable(rows: Seq[Seq[String]], headers: Option[Seq[String]],
      sep: String = " "): Iterator[String] = {
    if (rows.isEmpty && headers.isEmpty) return Iterator.empty
    val widths0 = headers.getOrElse(rows.head).map(_.length)
    val widths = rows.foldLeft(widths0)((acc, r) =>
      acc.zipAll(r.map(_.length), 0, 0).map { case (a, b) => math.max(a, b) })
    def fmt(xs: Seq[String]): String =
      xs.zip(widths).map { case (x, w) => x.padTo(w, ' ') }.mkString(sep) + "\n"
    val head = headers.iterator.flatMap(h =>
      Iterator(fmt(h), fmt(widths.map("-" * _))))
    head ++ rows.iterator.map(fmt)
  }

  /** Vertical bar plot of the last (numeric) column; negative values
    * grow leftward from the axis (cli.py:101-134). */
  def vbar(rows: Seq[Seq[Any]], plotWidth: Int = 80,
      tic: String = "•"): Iterator[String] = {
    if (rows.isEmpty) return Iterator.empty
    val values = rows.map(_.last match {
      case n: Number => n.doubleValue()
      case other => return Iterator.single(s"Last column must be numeric ($other)\n")
    })
    val labels = rows.map(_.dropRight(1).map(String.valueOf).mkString(" / "))
    val labelLen = labels.map(_.length).max
    val vMax = math.max(values.max, 0)
    val vMin = math.min(values.min, 0)
    val vWidth = math.max(f" $vMin%.2f".length, f"$vMax%.2f".length)
    val scale = (if (vMax - vMin == 0) 1.0 else vMax - vMin) / plotWidth
    val leftPane = if (vMin < 0) math.round(-vMin / scale).toInt else 0
    labels.zip(values).iterator.map { case (label, value) =>
      val head = label.padTo(labelLen, ' ') + " " +
        f"$value%.2f".reverse.padTo(vWidth, ' ').reverse + " "
      if (value < 0) {
        val n = math.round(-value / scale).toInt
        head + " " * (leftPane - n) + tic * n + "|\n"
      } else {
        head + " " * leftPane + "|" + tic * math.round(value / scale).toInt + "\n"
      }
    }
  }
}
