package graft.web

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Env
import graft.view.{Json, Order}

/** Minimal embedded web layer over an [[Env]] — the engine-in-a-web-app
  * integration the reference ships as a bottle plugin
  * (contrib/bottle.py:1-28). The plugin's job there is scoping a
  * connection per request; a SparkSession is thread-safe, so here the
  * shared Env serves each request directly and the surface is a small
  * read API over the View layer (JDK `com.sun.net.httpserver`, no
  * external dependencies):
  *
  * {{{
  *   GET /<table>?fields=a,b&filter=<s-expr>&limit=n&order=col&<k>=v
  *   → {"columns": ["a","b"], "rows": [[...], ...]}
  * }}}
  *
  * `filter` may repeat (AND semantics, like View.read); every other
  * query parameter binds `{name}` parameters inside filters. Driver
  * collects the page — the endpoint is for serving query RESULTS, so
  * always pass a limit for big tables (default 1000).
  *
  * Write side (the reference's routes call `view.write`/`delete`
  * inside the plugin scope, so the integration exposes them too;
  * `_`-prefixed paths can never collide with a table name):
  *
  * {{{
  *   POST /_write/<table>   {"fields": [...], "rows": [[...], ...]}
  *   → {"filtered": n, "deleted": n}          // View rowcounts
  *   POST /_delete/<table>?filter=<s-expr>&<k>=v
  *   → {"deleted": n}
  *   POST /_txn             {"actions": [...]}   // atomic batch, see txn
  *   POST /_compact/<table> [{"zorder": ["a","b"]}]  // layout maintenance
  *   POST /_embed/<table>   {"dims": N, "out": "<table>"}  // hashed embeddings
  * }}}
  *
  * Audit side (storage-level, see [[graft.Env.diffSnapshots]]):
  *
  * {{{
  *   GET /_snapshots/<table>          → {"snapshots": ["snap-1", ...]}
  *   GET /_diff/<table>?from=&to=&summary=true&psi=<numeric col>&limit=n
  *   → {"columns": [keys..., "change"], "rows": [[...], ...]}
  * }}}
  *
  * ACL read/write filters configured on the env bind HTTP clients
  * exactly as library callers. The audit endpoints read storage
  * snapshots beneath the view layer, where those filters cannot
  * apply — so `/_diff` and `/_snapshots` refuse (403) for any table
  * with an `aclRead` entry rather than leak hidden rows' changes.
  */
final class Server(env: Env, port: Int = 0) {

  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  http.createContext("/", (ex: HttpExchange) => handle(ex))
  http.setExecutor(null) // serial; Spark parallelism lives below

  def start(): Int = { http.start(); http.getAddress.getPort }
  def stop(): Unit = http.stop(0)

  private def params(raw: String): Seq[(String, String)] =
    if (raw == null || raw.isEmpty) Nil
    else raw.split("&").toSeq.map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      (URLDecoder.decode(k, "UTF-8"), URLDecoder.decode(v, "UTF-8"))
    }

  private val reserved = Set("fields", "filter", "limit", "offset", "order")

  private def handle(ex: HttpExchange): Unit = {
    // one scope per request: everything the request materialized is
    // released before the response goes out
    val (code, body) =
      try graft.ops.Scope {
        val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
        if (path == "_txn") {
          if (ex.getRequestMethod != "POST")
            (405, Json.write(Map("error" -> "POST only")))
          else (200, txn(ex))
        } else handleTable(ex, path)
      } catch {
        case e: Exception =>
          (400, Json.write(Map("error" -> String.valueOf(e.getMessage))))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def handleTable(ex: HttpExchange, path: String): (Int, String) = {
        val mutation = path.startsWith("_write/") ||
          path.startsWith("_delete/") || path.startsWith("_curate/") ||
          path.startsWith("_compact/") || path.startsWith("_embed/")
        val prefixed = mutation || path.startsWith("_profile/") ||
          path.startsWith("_diff/") || path.startsWith("_snapshots/")
        val table = if (prefixed) path.substring(path.indexOf('/') + 1) else path
        if (ex.getRequestMethod != (if (mutation) "POST" else "GET"))
          (405, Json.write(Map("error" ->
            (if (mutation) "POST only" else "GET only"))))
        else if (table.isEmpty || !env.registry.names.contains(table))
          (404, Json.write(Map("error" -> s"unknown table '$table'")))
        else if (path.startsWith("_write/")) (200, write(table, ex))
        else if (path.startsWith("_curate/")) (200, curate(table, ex))
        else if (path.startsWith("_embed/")) (200, embed(table, ex))
        else if (path.startsWith("_compact/")) (200, compact(table, ex))
        else if (path.startsWith("_delete/"))
          (200, delete(table, params(ex.getRequestURI.getRawQuery)))
        else if (path.startsWith("_profile/"))
          (200, profile(table, params(ex.getRequestURI.getRawQuery)))
        // the audit endpoints read STORAGE snapshots, beneath the View
        // layer where aclRead filters bind — serving them for an
        // ACL-guarded table would leak key-level changes and column
        // min/max for rows the ACL hides (and snapshot names leak
        // write cadence). Refuse loudly; the library surface
        // (Env.diffSnapshots) stays available to the operator.
        else if ((path.startsWith("_diff/") || path.startsWith("_snapshots/"))
            && env.aclRead.getOrElse(table, Nil).nonEmpty)
          (403, Json.write(Map("error" ->
            s"'$table' has ACL read filters; snapshot audit is not served over HTTP")))
        else if (path.startsWith("_diff/"))
          (200, diff(table, params(ex.getRequestURI.getRawQuery)))
        else if (path.startsWith("_snapshots/"))
          (200, Json.write(Map(
            "snapshots" -> env.warehouse.snapshots(table))))
        else (200, read(table, params(ex.getRequestURI.getRawQuery)))
  }

  private def read(table: String, ps: Seq[(String, String)]): String = {
    val get = ps.toMap
    val fields = get.get("fields").map(_.split(",").toSeq.map(_.trim))
    val filters = ps.filter(_._1 == "filter").map(_._2)
    val kwargs: Map[String, Any] = get.filterNot { case (k, _) => reserved(k) }
    val v = env.view(table, fields.orNull)
    val df = v.read(
      filters = filters.map(graft.view.FilterExpr.apply),
      kwargs = kwargs,
      order = get.get("order").map(Order(_)).toSeq,
      limit = Some(get.get("limit").map(_.toLong).getOrElse(1000L)),
      offset = get.get("offset").map(_.toLong))
    val cols = df.columns.toSeq
    def cell(v: Any): Any = v match {
      case null => null
      case n: Number => n
      case b: Boolean => b
      case bytes: Array[Byte] => // binary → base64, not "[B@…"
        java.util.Base64.getEncoder.encodeToString(bytes)
      case s: scala.collection.Seq[_] => s.map(cell) // arrays → JSON lists
      case a: Array[_] => a.toSeq.map(cell)
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => String.valueOf(k) -> cell(x) }
      case r: org.apache.spark.sql.Row => r.toSeq.map(cell) // structs
      case other => String.valueOf(other)
    }
    val rows = df.collect().toSeq.map(_.toSeq.map(cell))
    Json.write(Map("columns" -> cols, "rows" -> rows))
  }

  /** `GET /_diff/<table>?from=<snap>&to=<snap>&summary=true&limit=n` —
    * snapshot change audit ([[graft.Env.diffSnapshots]]; from/to
    * default to the two most recent retained snapshots, names via
    * `GET /_snapshots/<table>`). Rows are key-ordered and capped by
    * `limit` (default 1000) like `read`; `summary=true` returns the
    * per-kind counts instead; `profile=true` switches to the
    * per-column data-card drift ([[graft.Env.compareSnapshots]]).
    * Storage-level surface: view ACL read filters CANNOT apply
    * (snapshots predate the view layer), so tables with an `aclRead`
    * entry refuse with 403 before reaching here; a snapshot that is a
    * per-bucket or per-zone delta refuses (400). */
  private def diff(table: String, ps: Seq[(String, String)]): String = {
    val get = ps.toMap
    val df = get.get("psi").filter(_.nonEmpty) match {
      // ?psi=<numeric col>: the scalar distribution-shift gate
      case Some(c) => env.psiSnapshots(table, c,
        get.get("from"), get.get("to"))
      case None if get.get("profile").exists(_.toBoolean) =>
        env.compareSnapshots(table, get.get("from"), get.get("to"))
      case None => env.diffSnapshots(table, get.get("from"), get.get("to"),
        summary = get.get("summary").exists(_.toBoolean))
    }
    val ordered = df.orderBy(df.columns.toIndexedSeq.map(
      org.apache.spark.sql.functions.col): _*)
      .limit(get.get("limit").map(_.toInt).getOrElse(1000))
    Json.write(Map("columns" -> ordered.columns.toSeq,
      "rows" -> ordered.collect().toSeq.map(_.toSeq.map(v =>
        if (v == null) null else v match {
          case n: Number => n
          case b: Boolean => b
          case other => String.valueOf(other)
        }))))
  }

  /** `GET /_profile/<table>?fields=a,b&filter=<s-expr>` — per-column
    * data card ([[graft.ops.Profile.columns]]) through the View layer
    * (read filters and ACLs bind exactly like `read`). Defaults to
    * every non-id physical column. */
  private def profile(table: String, ps: Seq[(String, String)]): String = {
    val get = ps.toMap
    val td = env.registry(table)
    val cols = get.get("fields").map(_.split(",").toSeq.map(_.trim))
      .getOrElse(td.physical.map(_.name).filterNot(_ == "id"))
    val filters = ps.filter(_._1 == "filter").map(_._2)
    // ?group=<col>: per-group data cards (Profile.columnsBy), the
    // CLI --group twin
    val df = get.get("group").filter(_.nonEmpty) match {
      case Some(g) =>
        val pcols = cols.filterNot(_ == g)
        require(pcols.nonEmpty,
          s"profile group=$g needs at least one other column")
        val base = env.view(table, (pcols :+ g).distinct)
          .read(filters = filters.map(graft.view.FilterExpr.apply))
        graft.ops.Profile.columnsBy(base, pcols, g)
          .orderBy(org.apache.spark.sql.functions.col("group"),
            org.apache.spark.sql.functions.col("column"))
      case None =>
        val base = env.view(table, cols)
          .read(filters = filters.map(graft.view.FilterExpr.apply))
        graft.ops.Profile.columns(base, cols)
          .orderBy(org.apache.spark.sql.functions.col("column"))
    }
    val rows = df.collect().toSeq.map(_.toSeq.map {
      case null => null
      case n: Number => n
      case other => String.valueOf(other)
    })
    Json.write(Map("columns" -> df.columns.toSeq, "rows" -> rows))
  }

  /** `POST /_write/<table>` — body `{"fields": [...], "rows": [[...]]}`
    * through the full upsert path (key merge, FK resolution, ACL write
    * filters). snakeyaml parses the JSON body (JSON ⊂ YAML). */
  private def write(table: String, ex: HttpExchange): String = {
    val body = jsonBody(ex)
    val fields = arr(body("fields")).map(String.valueOf(_))
    val rows = arr(body("rows")).map(arr)
    val res = env.view(table, fields).write(rows)
    Json.write(Map("filtered" -> res.filtered, "deleted" -> res.deleted))
  }

  /** `POST /_curate/<table>` — the fused curation pipeline
    * ([[graft.ops.Pipeline.curateDocuments]]) over a managed table,
    * through the View layer (ACL read filters narrow the input;
    * writing survivors with `"out"` goes through the full ACL'd
    * upsert). Unlike the CLI (operator-trusted), HTTP clients never
    * name a raw filesystem path: `scratch` is a NAME, resolved to
    * `<warehouse root>/_scratch/<name>` — an arbitrary path here
    * would let any client overwrite/delete `stage-*` directories
    * anywhere the server can write (including inside managed tables).
    * Body (JSON):
    *
    * {{{
    *   {"scratch": "run1",            // required spill dir NAME
    *    "id_col": "doc_id", "text_col": "text",
    *    "min_quality": 0.5, "near": 0.2, "sample": 0.5,
    *    "url_col": "url",             // adds the url_dedup stage
    *    "blocklist": "domains", "block_field": "domain",
    *                                  // adds the domain_filter stage
    *    "index": "corpus",            // NAME under <root>/_index/ —
    *                                  // cross_dedup + index_update
    *    "since": "snap-...",          // delta input: keys added or
    *                                  // changed after that snapshot
    *    "bench": "benchtable", "bench_field": "text",  // decontaminate
    *    "clf_pos": "wiki", "clf_neg": "crawl", "min_clf": 0.0,
    *                                  // adds the classifier stage
    *    "html": true,                 // prepends visible-text extraction
    *    "normalize": true,            // prepends the Unicode rewrite
    *    "gopher": true,               // adds the Gopher line-rule floor
    *    "out": "curated",             // write survivors to this table
    *    "keep_spills": true, "resume": 2}  // Pipeline.resume from N
    *   → {"stages": [{"stage": ..., "rows_out": n, "seconds": s}], "out": ...}
    * }}}
    *
    * `"embeddings": true` switches to the vector recipe
    * ([[graft.ops.Pipeline.curateEmbeddings]], the CLI `--embeddings`
    * twin): `id_col`/`vec_col` name the columns (vec_id/embedding),
    * `near` is the cosine near-dedup threshold (0.99), `k` the
    * SemDeDup cluster count, and `bench`/`bench_field` an optional
    * vector table for semantic decontamination. */
  private def curate(table: String, ex: HttpExchange): String = {
    val body = jsonBody(ex)
    def str(k: String, d: String) =
      body.get(k).map(String.valueOf).filter(_.nonEmpty).getOrElse(d)
    def dbl(k: String, d: Double) =
      body.get(k).map(_.toString.toDouble).getOrElse(d)
    val scratchName = str("scratch", "")
    require(scratchName.nonEmpty, """curate needs "scratch": "<name>"""")
    require(scratchName.matches("[A-Za-z0-9._-]+") &&
      scratchName != "." && scratchName != "..",
      s"scratch must be a plain name, got '$scratchName'")
    val scratch = s"${env.warehouse.root}/_scratch/$scratchName"
    val stages =
      if (body.get("embeddings").exists(_.toString.toBoolean)) {
        // vector recipe (the CLI --embeddings twin): exact → cosine
        // near-dedup → SemDeDup-auto → optional semantic
        // decontamination against a bench vector table
        val idCol = str("id_col", "vec_id")
        val vecCol = str("vec_col", "embedding")
        val input = env.view(table, Seq(idCol, vecCol)).read()
          .filter(org.apache.spark.sql.functions.col(vecCol).isNotNull)
        val dims = graft.ops.Similarity.vectorDims(input, vecCol)
        val benchField = str("bench_field", vecCol)
        val bench = Some(str("bench", "")).filter(_.nonEmpty)
          .map(t => env.view(t, Seq(benchField)).read()
            .withColumn(benchField, org.apache.spark.sql.functions
              .col(benchField).cast("array<float>")))
        val vIndexName = str("index", "")
        require(vIndexName.isEmpty ||
          (vIndexName.matches("[A-Za-z0-9._-]+") &&
            vIndexName != "." && vIndexName != ".."),
          s"index must be a plain name, got '$vIndexName'")
        graft.ops.Pipeline.Stage("float32", df =>
          df.withColumn(vecCol, org.apache.spark.sql.functions.col(vecCol)
            .cast("array<float>"))) +:
          graft.ops.Pipeline.curateEmbeddings(idCol, vecCol, dims,
            nearThreshold = dbl("near", 0.99),
            semanticK = body.get("k").map(_.toString.toInt).getOrElse(64),
            bench = bench, benchVecCol = benchField,
            corpusIndex = Some(vIndexName).filter(_.nonEmpty)
              .map(n => s"${env.warehouse.root}/_index/$n"))
      } else {
        val benchField = str("bench_field", "text")
        val bench = Some(str("bench", "")).filter(_.nonEmpty)
          .map(t => env.view(t, Seq(benchField)).read())
        val textCol = str("text_col", "text")
        val (clfPos, clfNeg) = (str("clf_pos", ""), str("clf_neg", ""))
        require(clfPos.isEmpty == clfNeg.isEmpty,
          """curate needs BOTH "clf_pos" and "clf_neg" (or neither)""")
        val clf = Some(clfPos).filter(_.nonEmpty).map { p =>
          graft.ops.Text.classifierWeights(
            env.view(p, Seq(textCol)).read(), textCol,
            env.view(clfNeg, Seq(textCol)).read(), textCol)
        }
        val blockField = str("block_field", "domain")
        val block = Some(str("blocklist", "")).filter(_.nonEmpty)
          .map(t => env.view(t, Seq(blockField)).read())
        require(block.isEmpty || str("url_col", "").nonEmpty,
          """curate "blocklist" needs "url_col" too""")
        // "index": a NAME resolved under <root>/_index/ — same
        // no-raw-paths trust rule as scratch — adding the
        // cross_dedup + index_update incremental stages
        val indexName = str("index", "")
        require(indexName.isEmpty || (indexName.matches("[A-Za-z0-9._-]+") &&
          indexName != "." && indexName != ".."),
          s"index must be a plain name, got '$indexName'")
        graft.ops.Pipeline.curateDocuments(
          str("id_col", "doc_id"), textCol,
          urlCol = Some(str("url_col", "")).filter(_.nonEmpty),
          blockDomains = block, blockDomainCol = blockField,
          corpusIndex = Some(indexName).filter(_.nonEmpty)
            .map(n => s"${env.warehouse.root}/_index/$n"),
          nearThreshold = dbl("near", 0.2),
          minQuality = dbl("min_quality", 0.0),
          bench = bench, benchTextCol = benchField,
          classifier = clf, minClassifier = dbl("min_clf", 0.0),
          sampleFraction = dbl("sample", 1.0),
          html = body.get("html").exists(_.toString.toBoolean),
          normalize = body.get("normalize").exists(_.toString.toBoolean),
          gopher = body.get("gopher").exists(_.toString.toBoolean))
      }
    val keep = body.get("keep_spills").exists(_.toString.toBoolean)
    // "since": narrow the input to keys added/changed after that
    // retained snapshot (delta curation). Keys only — the rows still
    // come through the ACL'd view read, so nothing hidden surfaces.
    val fullInput = env.view(table).read()
    val input = Some(str("since", "")).filter(_.nonEmpty).map { snap =>
      val keys = env.registry(table).key
      val delta = env.diffSnapshots(table, from = Some(snap))
        .filter(org.apache.spark.sql.functions.col("change") =!= "removed")
        .select(keys.map(org.apache.spark.sql.functions.col): _*)
      fullInput.join(delta, keys, "left_semi")
    }.getOrElse(fullInput)
    val (survivors, reports) = body.get("resume").map(_.toString.toInt) match {
      case Some(n) =>
        graft.ops.Pipeline.resume(env.spark, stages, scratch, n, keep)
      case None =>
        graft.ops.Pipeline.run(input, stages, scratch, keep)
    }
    val written = Some(str("out", "")).filter(_.nonEmpty).map { t =>
      env.view(t, survivors.columns.toSeq).write(survivors); t
    }
    Json.write(Map(
      "stages" -> reports.map(r => Map("stage" -> r.stage,
        "rows_out" -> r.rowsOut, "seconds" -> r.seconds)),
      "out" -> written.orNull))
  }

  /** `POST /_embed/<table>` — model-free hashed embeddings
    * ([[graft.ops.Text.hashEmbed]]) of a managed text table into a
    * managed vector table. Reads through the View layer (ACL read
    * filters narrow the input) and writes through the ACL'd upsert —
    * like `_curate`, HTTP clients never name a filesystem path.
    * Body: `{"dims": 64, "out": "vectors",
    *         "id_col": "doc_id", "text_col": "text"}`
    * → `{"rows": n, "out": "vectors", "dims": 64}` */
  private def embed(table: String, ex: HttpExchange): String = {
    val body = jsonBody(ex)
    def str(k: String, d: String) =
      body.get(k).map(String.valueOf).filter(_.nonEmpty).getOrElse(d)
    val dims = body.get("dims").map(_.toString.toInt).getOrElse(
      throw new IllegalArgumentException("""embed needs "dims": N"""))
    require(dims > 0, s"dims must be positive, got $dims")
    val outTable = str("out", "")
    require(outTable.nonEmpty, """embed needs "out": "<table>"""")
    val idCol = str("id_col", "doc_id")
    val textCol = str("text_col", "text")
    val emb = graft.ops.Text.hashEmbed(
        env.view(table, Seq(idCol, textCol)).read(), textCol, dims)
      .select(idCol, "embedding")
    val res = env.view(outTable, Seq(idCol, "embedding")).write(emb)
    Json.write(Map("filtered" -> res.filtered,
      "out" -> outTable, "dims" -> dims))
  }

  /** `POST /_compact/<table>` — small-file compaction
    * ([[graft.store.Warehouse.compact]]); exposes no row data (the
    * response is layout metadata only), so it is not ACL-gated. An
    * optional body `{"zorder": ["a", "b"]}` (re)clusters a brin table
    * on that z-order and records it as the table property
    * ([[graft.store.Warehouse.compactZOrder]]); `{"zorder": []}`
    * clears the property. No body / no key = plain compaction, which
    * re-applies a previously recorded z-order. */
  private def compact(table: String, ex: HttpExchange): String = {
    val text = new String(org.apache.commons.io.IOUtils
      .toByteArray(ex.getRequestBody), StandardCharsets.UTF_8)
    val body: scala.collection.Map[String, Object] =
      if (text.isBlank) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        Option(new org.yaml.snakeyaml.Yaml()
          .load[java.util.Map[String, Object]](text))
          .map(_.asScala).getOrElse(Map.empty)
      }
    body.get("zorder") match {
      case Some(cols) =>
        env.warehouse.compactZOrder(table, arr(cols).map(String.valueOf))
      case None => env.warehouse.compact(table)
    }
    val m = env.warehouse.currentManifest(table)
    Json.write(Map("table" -> table,
      "zones" -> m.map(_.zones.size).getOrElse(0),
      "zorder" -> m.map(_.zorder).getOrElse(Nil)))
  }

  private def arr(v: Any): Seq[Any] = v match {
    case l: java.util.List[_] => l.toArray.toSeq
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  private def jsonBody(ex: HttpExchange): scala.collection.Map[String, Object] = {
    val text = new String(org.apache.commons.io.IOUtils
      .toByteArray(ex.getRequestBody), StandardCharsets.UTF_8)
    import scala.jdk.CollectionConverters._
    new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](text).asScala
  }

  /** `POST /_txn` — a list of write/delete actions applied ATOMICALLY
    * (all visible together, or none on any failure): the per-request
    * commit the reference's bottle plugin gives every route
    * (contrib/bottle.py:12-28), surfaced as one explicit endpoint.
    *
    * {{{
    *   POST /_txn  {"actions": [
    *     {"op": "write",  "table": t, "fields": [...], "rows": [[...]]},
    *     {"op": "delete", "table": t, "filters": ["(= a {x})"],
    *      "params": {"x": 1}}]}
    *   → {"actions": [{"op": "write", "table": t, "filtered": n,
    *                   "deleted": n}, {"op": "delete", ...}]}
    * }}} */
  private def txn(ex: HttpExchange): String = {
    import scala.jdk.CollectionConverters._
    val actions = arr(jsonBody(ex)("actions"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala)
    // validate shape BEFORE opening the transaction: a malformed later
    // action should not even start applying earlier ones
    actions.foreach { m =>
      val table = String.valueOf(m.getOrElse("table", null))
      require(env.registry.names.contains(table), s"unknown table '$table'")
      val op = String.valueOf(m.getOrElse("op", null))
      require(op == "write" || op == "delete", s"unknown op '$op'")
    }
    val results = env.transaction {
      actions.map { m =>
        val table = String.valueOf(m("table"))
        String.valueOf(m("op")) match {
          case "write" =>
            val fields = arr(m("fields")).map(String.valueOf(_))
            val rows = arr(m("rows")).map(arr)
            val res = env.view(table, fields).write(rows)
            Map("op" -> "write", "table" -> table,
              "filtered" -> res.filtered, "deleted" -> res.deleted)
          case "delete" =>
            val filters = m.get("filters").map(arr(_).map(String.valueOf(_)))
              .getOrElse(Nil)
            val kwargs: Map[String, Any] =
              m.get("params").map(_.asInstanceOf[java.util.Map[String, Object]]
                .asScala.toMap.map { case (k, v) => k -> (v: Any) })
                .getOrElse(Map())
            val n = env.view(table).delete(
              filters = filters.map(graft.view.FilterExpr.apply),
              kwargs = kwargs)
            Map("op" -> "delete", "table" -> table, "deleted" -> n)
        }
      }
    }
    Json.write(Map("actions" -> results))
  }

  /** `POST /_delete/<table>?filter=<s-expr>&<k>=v` — delete by filter
    * with `{name}` parameter binding, same surface as the read side. */
  private def delete(table: String, ps: Seq[(String, String)]): String = {
    val get = ps.toMap
    val kwargs: Map[String, Any] = get.filterNot { case (k, _) => reserved(k) }
    val n = env.view(table).delete(
      filters = ps.filter(_._1 == "filter").map(_._2).map(graft.view.FilterExpr.apply),
      kwargs = kwargs)
    Json.write(Map("deleted" -> n))
  }
}
