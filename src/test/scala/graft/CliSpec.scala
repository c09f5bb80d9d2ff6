package graft

import java.io.StringWriter
import java.nio.file.Files
import graft.cli.{Main, Render}

/** CLI smoke tests (reference tanker/cli.py surface). */
class CliSpec extends SparkSpec {

  def cfg(): (String, String) = {
    val dir = Files.createTempDirectory("graft-cli-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema, SparkSpec.baseYaml)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf,
      s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    (conf.toString, dir.toString)
  }

  def run(conf: String, args: String*): String = {
    val out = new StringWriter()
    Main.run(Main.parseArgs(args.toSeq ++ Seq("--config", conf)), spark, out)
    out.toString
  }

  test("init, write via csv file, read csv, info") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val csv = java.nio.file.Paths.get(dir, "teams.csv")
    Files.writeString(csv, "name,country.name\nBlue,Belgium\nRed,France\n")
    run(conf, "write", "team", "-f", csv.toString)
    val got = run(conf, "read", "team", "name", "country.name", "-s", "name")
    assert(got == "name,country.name\nBlue,Belgium\nRed,France\n", got)
    // filters + limit
    val one = run(conf, "read", "team", "name", "-F", """(= country.name "Belgium")""")
    assert(one == "name\nBlue\n", one)
    // info
    val info = run(conf, "info")
    assert(info.contains("team") && info.contains("country"))
    val tinfo = run(conf, "info", "team")
    assert(tinfo.contains("country (M2O -> country.id)") &&
      tinfo.contains("members (O2M -> member.team)"), tinfo)
    // delete
    run(conf, "delete", "team", "-F", """(= name "Red")""")
    assert(run(conf, "read", "team", "name", "-H") == "Blue\n")
  }

  test("export/import round-trip a table through a JSONL shard dir") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val csv = java.nio.file.Paths.get(dir, "teams.csv")
    Files.writeString(csv, "name,country.name\nBlue,Belgium\nRed,France\n")
    run(conf, "write", "team", "-f", csv.toString)
    // export (filtered) to a sidecar-typed shard dir
    val shard = java.nio.file.Paths.get(dir, "shards").toString
    val msg = run(conf, "export", "team", "name", "country.name",
      "-f", shard, "--shards", "1")
    assert(msg.contains("exported team"), msg)
    assert(new java.io.File(shard, "_graft_schema.json").exists())
    // wipe and import back through the upsert path
    run(conf, "delete", "team")
    assert(run(conf, "read", "team", "name", "-H") == "", "expected empty")
    val back = run(conf, "import", "team", "-f", shard)
    assert(back.contains("imported"), back)
    val got = run(conf, "read", "team", "name", "country.name", "-s", "name")
    assert(got == "name,country.name\nBlue,Belgium\nRed,France\n", got)
    // csv format variant round-trips too
    val shard2 = java.nio.file.Paths.get(dir, "shards2").toString
    run(conf, "export", "team", "name", "country.name",
      "-f", shard2, "--format", "csv")
    run(conf, "delete", "team", "-F", """(= name "Red")""")
    run(conf, "import", "team", "-f", shard2, "--format", "csv")
    assert(run(conf, "read", "team", "name", "-H", "-s", "name")
      == "Blue\nRed\n")
    // an unknown/typo'd format fails loudly instead of silently
    // producing a JSONL shard dir
    val err = intercept[IllegalArgumentException] {
      run(conf, "export", "team", "name",
        "-f", java.nio.file.Paths.get(dir, "shards3").toString,
        "--format", "parquet")
    }
    assert(err.getMessage.contains("parquet"), err.getMessage)
    intercept[IllegalArgumentException] {
      run(conf, "import", "team", "-f", shard, "--format", "josnl")
    }
  }

  test("export/import --format warc: crawl round-trip with HTML extraction") {
    val dir = Files.createTempDirectory("graft-cli-warc-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema,
      """- table: pages
        |  columns:
        |    url: varchar
        |    text: varchar
        |    status: bigint
        |    content_type: varchar
        |    fetched_at: timestamp
        |  key: [url]
        |""".stripMargin)
    val conf = dir.resolve("tk.yaml").toString
    Files.writeString(dir.resolve("tk.yaml"),
      s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf, "init")
    // a hand-framed archive: the writer in this repo is NOT used, so
    // the import path is proven against foreign bytes; text/plain
    // passes through raw, text/html extracts to visible text
    def rec(uri: String, ctype: String, body: Array[Byte]): Array[Byte] = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
        .getBytes("UTF-8") ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2026-02-03T04:05:06Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
        http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val arch = dir.resolve("crawl"); Files.createDirectories(arch)
    Files.write(arch.resolve("seg-0.warc"),
      rec("http://x.example/a", "text/html; charset=utf-8",
        "<html><body><h1>Title</h1><p>body text</p></body></html>"
          .getBytes("UTF-8")) ++
      rec("http://x.example/b", "text/plain",
        "plain <kept> text".getBytes("UTF-8")) ++
      rec("http://x.example/c", "text/plain; charset=iso-8859-1",
        "café crawl".getBytes("ISO-8859-1"))) // é = one byte, 0xE9
    val msg = run(conf, "import", "pages", "-f", arch.toString,
      "--format", "warc")
    assert(msg.contains("imported"), msg)
    val got = run(conf, "read", "pages", "url", "text", "status", "-s", "url")
    assert(got == "url,text,status\n" +
      "http://x.example/a,\"Title\nbody text\",200\n" +
      "http://x.example/b,plain <kept> text,200\n" +
      "http://x.example/c,café crawl,200\n", got)
    // export two fields back out as a fresh archive and re-ingest it
    val out2 = dir.resolve("recrawl").toString
    run(conf, "export", "pages", "url", "text", "-f", out2,
      "--format", "warc", "--shards", "1")
    val dir2 = Files.createTempDirectory("graft-cli-warc2-")
    Files.writeString(dir2.resolve("tk.yaml"),
      s"schema: $schema\nwarehouse: ${dir2.resolve("wh")}\n")
    val conf2 = dir2.resolve("tk.yaml").toString
    run(conf2, "init")
    run(conf2, "import", "pages", "-f", out2, "--format", "warc")
    // the re-export serves text/plain, so the extracted text (already
    // plain) survives verbatim, including the line break
    val again = run(conf2, "read", "pages", "url", "text", "-s", "url")
    assert(again == "url,text\nhttp://x.example/a,\"Title\nbody text\"\n" +
      "http://x.example/b,plain <kept> text\n" +
      "http://x.example/c,café crawl\n", again)
    // field-count guard on warc export
    val err = intercept[IllegalArgumentException] {
      run(conf, "export", "pages", "url", "-f",
        dir.resolve("bad").toString, "--format", "warc")
    }
    assert(err.getMessage.contains("exactly two fields"), err.getMessage)
    // WET: extracted text out as conversion records, back as url/text
    val wetDir = dir.resolve("wet").toString
    run(conf, "export", "pages", "url", "text", "-f", wetDir,
      "--format", "wet", "--shards", "1")
    val schema3 = dir.resolve("schema3.yaml")
    Files.writeString(schema3,
      """- table: pages
        |  columns:
        |    url: varchar
        |    text: varchar
        |    fetched_at: timestamp
        |  key: [url]
        |""".stripMargin)
    val dir3 = Files.createTempDirectory("graft-cli-wet-")
    Files.writeString(dir3.resolve("tk.yaml"),
      s"schema: $schema3\nwarehouse: ${dir3.resolve("wh")}\n")
    val conf3 = dir3.resolve("tk.yaml").toString
    run(conf3, "init")
    run(conf3, "import", "pages", "-f", wetDir, "--format", "wet")
    val wet = run(conf3, "read", "pages", "url", "text", "-s", "url")
    assert(wet == "url,text\nhttp://x.example/a,\"Title\nbody text\"\n" +
      "http://x.example/b,plain <kept> text\n" +
      "http://x.example/c,café crawl\n", wet)
  }

  test("snapshot diff: last-two default, explicit --from/--to, summary, bucketed refusal") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val csv = java.nio.file.Paths.get(dir, "m1.csv")
    Files.writeString(csv, "registration_code,name\nA,X\nB,Y\n")
    run(conf, "write", "member", "-f", csv.toString)
    val csv2 = java.nio.file.Paths.get(dir, "m2.csv")
    Files.writeString(csv2, "registration_code,name\nA,X2\nC,Z\n")
    run(conf, "write", "member", "-f", csv2.toString)
    // default = the two most recent retained snapshots: "what did the
    // last write change" — A's payload changed, C appeared, B untouched
    val got = run(conf, "diff", "member")
    assert(got == "registration_code,change\nA,changed\nC,added\n", got)
    val sum = run(conf, "diff", "member", "--summary")
    assert(sum == "change,n\nadded,1\nchanged,1\n", sum)
    // snapshots lists the retained names; explicit --from/--to agrees
    val snaps = run(conf, "snapshots", "member").split("\n").toSeq
    assert(snaps.size >= 2, snaps)
    val explicit = run(conf, "diff", "member",
      "--from", snaps(snaps.size - 2), "--to", snaps.last)
    assert(explicit == got, explicit)
    // an unknown snapshot name fails loudly
    intercept[IllegalArgumentException] {
      run(conf, "diff", "member", "--from", "snap-999999")
    }
    // --profile: per-column drift card instead of key-level rows
    val prof = run(conf, "diff", "member", "--profile")
    val header = prof.linesIterator.next()
    assert(header.startsWith("column,") &&
      header.contains("rows_before") && header.contains("nulls_delta"),
      header)
    val nameRow = prof.linesIterator.find(_.startsWith("name,")).get
    // members A,B before; A,B,C after -> rows 2 -> 3, delta +1
    assert(nameRow.contains("2,0,2") && nameRow.endsWith("1,0,1"), nameRow)
    // bucketed tables refuse: their snapshot dirs are per-bucket
    // deltas, not full table states
    val bdir = Files.createTempDirectory("graft-cli-bdiff-")
    val bschema = bdir.resolve("schema.yaml")
    Files.writeString(bschema,
      """- table: kv
        |  columns:
        |    k: varchar
        |    v: bigint
        |  key: [k]
        |  buckets: 4
        |""".stripMargin)
    val bconf = bdir.resolve("tk.yaml")
    Files.writeString(bconf,
      s"schema: $bschema\nwarehouse: ${bdir.resolve("wh")}\n")
    run(bconf.toString, "init")
    val kcsv = bdir.resolve("kv.csv")
    Files.writeString(kcsv, "k,v\na,1\n")
    run(bconf.toString, "write", "kv", "-f", kcsv.toString)
    Files.writeString(kcsv, "k,v\na,2\n")
    run(bconf.toString, "write", "kv", "-f", kcsv.toString)
    val err = intercept[IllegalArgumentException] {
      run(bconf.toString, "diff", "kv")
    }
    assert(err.getMessage.contains("bucketed"), err.getMessage)
  }

  test("profile action renders a per-column data card") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val csv = java.nio.file.Paths.get(dir, "teams.csv")
    Files.writeString(csv, "name,country.name\nBlue,Belgium\nRed,France\nAce,France\n")
    run(conf, "write", "team", "-f", csv.toString)
    val got = run(conf, "profile", "team", "name")
    assert(got ==
      "column,n_rows,n_nulls,n_distinct,min_value,max_value\n" +
      "name,3,0,3,Ace,Red\n", got)
    // default columns: every non-id physical column
    val all = run(conf, "profile", "team")
    assert(all.contains("name,3,0,3,Ace,Red") && all.contains("country,3,0,2"),
      all)
    // filters narrow the profiled slice
    val be = run(conf, "profile", "team", "name",
      "-F", """(= country.name "France")""")
    assert(be.contains("name,2,0,2,Ace,Red"), be)
    // --k: top frequent values of one column (France has two teams)
    val tk = run(conf, "profile", "team", "country.name", "--k", "2")
    assert(tk.trim.linesIterator.toSeq ==
      Seq("value,n", "France,2", "Belgium,1"), tk)
    // --bins: fixed-width histogram over a derived min/max grid
    val hg = run(conf, "profile", "team", "country", "--bins", "2")
    val hLines = hg.trim.linesIterator.toSeq
    assert(hLines.head == "bin,bin_lo,bin_hi,n", hg)
    assert(hLines.tail.map(_.split(",")(3).toLong).sum == 3L, hg)
    // --group: per-group cards keyed by the group column
    val gp = run(conf, "profile", "team", "name", "country", "--group",
      "country")
    val lines = gp.trim.linesIterator.toSeq
    assert(lines.head == "group,column,n_rows,n_nulls,n_distinct," +
      "min_value,max_value", gp)
    // one country has two teams (Ace, Red), the other one (Blue)
    assert(lines.tail.size == 2, gp)
    assert(lines.tail.exists(_.endsWith(",name,2,0,2,Ace,Red")), gp)
    assert(lines.tail.exists(_.endsWith(",name,1,0,1,Blue,Blue")), gp)
  }

  test("txn action applies a batch atomically; failure voids all") {
    val (conf, dir) = cfg()
    run(conf, "init")
    // write + delete together
    val batch = java.nio.file.Paths.get(dir, "txn.yaml")
    Files.writeString(batch,
      """actions:
        |  - op: write
        |    table: country
        |    fields: [name]
        |    rows: [[Italy]]
        |  - op: delete
        |    table: country
        |    filters: ["(= name \"Holland\")"]
        |""".stripMargin)
    val out = run(conf, "txn", "-f", batch.toString)
    assert(out.contains("applied 2 action(s)"), out)
    val got = run(conf, "read", "country", "name", "-H")
    assert(got.contains("Italy") && !got.contains("Holland"), got)
    // failing second action (missing key) leaves the first invisible
    val bad = java.nio.file.Paths.get(dir, "bad.yaml")
    Files.writeString(bad,
      """actions:
        |  - op: write
        |    table: country
        |    fields: [name]
        |    rows: [[Spain]]
        |  - op: write
        |    table: member
        |    fields: [name]
        |    rows: [[NoKey]]
        |""".stripMargin)
    intercept[Exception] { run(conf, "txn", "-f", bad.toString) }
    val after = run(conf, "read", "country", "name", "-H")
    assert(!after.contains("Spain"), s"first action leaked: $after")
  }

  test("curate action: stage audit, survivors to table/export, resume") {
    val dir = Files.createTempDirectory("graft-cli-curate-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema,
      """- table: docs
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |- table: curated
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |- table: wiki
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |- table: crawl
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |""".stripMargin)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf.toString, "init")
    val csv = dir.resolve("docs.csv")
    // doc 2 is an exact copy of doc 1; the rest share no tokens
    Files.writeString(csv, "doc_id,text\n" +
      "1,alpha beta gamma delta epsilon\n" +
      "2,alpha beta gamma delta epsilon\n" +
      "3,one two three four five six\n" +
      "4,red green blue yellow purple\n" +
      "5,cat dog bird fish horse goat\n" +
      "6,north south east west upward\n" +
      "7,apple pear plum quince cherry\n" +
      "8,violin cello flute oboe drum\n")
    run(conf.toString, "write", "docs", "-f", csv.toString)
    val scratch = dir.resolve("scratch").toString
    val shard = dir.resolve("shards").toString
    val audit = run(conf.toString, "curate", "docs",
      "--scratch", scratch, "--keep-spills", "--sample", "0.5",
      "--out", "curated", "-f", shard)
    // the S8 ascii audit table names every selected stage
    assert(audit.contains("exact_dedup") && audit.contains("near_dedup") &&
      audit.contains("sample") && audit.contains("rows_out"), audit)
    assert(audit.contains("wrote survivors into curated") &&
      audit.contains(s"exported survivors to $shard"), audit)
    // survivors landed in the managed table and the export dir
    val curated = run(conf.toString, "read", "curated", "doc_id", "-H",
      "-s", "doc_id")
    val ids = curated.trim.linesIterator.toSeq
    assert(ids.nonEmpty && ids.size < 8, curated)
    assert(!(ids.contains("1") && ids.contains("2")), curated) // dup dropped
    assert(new java.io.File(shard, "_graft_schema.json").exists())
    // resume from stage 1 over the kept spills: same survivor set
    val audit2 = run(conf.toString, "curate", "docs",
      "--scratch", scratch, "--resume", "1", "--sample", "0.5",
      "--out", "curated")
    assert(!audit2.contains("exact_dedup") && audit2.contains("near_dedup"),
      audit2)
    val curated2 = run(conf.toString, "read", "curated", "doc_id", "-H",
      "-s", "doc_id")
    assert(curated2 == curated, s"$curated2 vs $curated")
    // no scratch -> loud refusal
    val e = intercept[IllegalArgumentException](
      run(conf.toString, "curate", "docs"))
    assert(e.getMessage.contains("--scratch"), e.getMessage)
    // classifier stage: doc 5 matches the crawl side's tokens (mean
    // log-odds < 0 -> dropped at --min-clf 0), doc 3 matches wiki,
    // everything else is OOV-neutral (score 0, kept)
    val wcsv = dir.resolve("wiki.csv")
    Files.writeString(wcsv, "doc_id,text\n1,one two three four five six\n")
    run(conf.toString, "write", "wiki", "-f", wcsv.toString)
    val ccsv = dir.resolve("crawl.csv")
    Files.writeString(ccsv, "doc_id,text\n1,cat dog bird fish horse goat\n")
    run(conf.toString, "write", "crawl", "-f", ccsv.toString)
    val audit3 = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("cscratch").toString,
      "--clf-pos", "wiki", "--clf-neg", "crawl")
    // 8 docs -> exact_dedup drops the copy (7) -> classifier drops
    // doc 5 (6): the stage is present and bites exactly once
    assert(audit3.contains("classifier"), audit3)
    val clfRows = audit3.linesIterator.find(_.contains("classifier")).get
      .trim.split("\\s+")(1).toLong
    assert(clfRows == 6L, audit3)
    // one classifier table without the other -> loud refusal
    val e2 = intercept[IllegalArgumentException](
      run(conf.toString, "curate", "docs",
        "--scratch", dir.resolve("cscratch2").toString, "--clf-pos", "wiki"))
    assert(e2.getMessage.contains("--clf-neg"), e2.getMessage)
    // --normalize prepends the Unicode-hygiene rewrite: present in
    // the audit, rewrites without filtering (all 8 docs pass through)
    val audit4 = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("nscratch").toString, "--normalize")
    val normRow = audit4.linesIterator.find(_.contains("normalize"))
    assert(normRow.isDefined, audit4)
    assert(normRow.get.trim.split("\\s+")(1).toLong == 8L, audit4)
    // --html prepends visible-text extraction FIRST (before
    // normalize): a rewrite stage, all 8 docs pass through
    val audit4b = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("hscratch").toString, "--html", "--normalize")
    val hIdx = audit4b.indexOf("html_extract")
    assert(hIdx >= 0 && hIdx < audit4b.indexOf("normalize"), audit4b)
    assert(audit4b.linesIterator.find(_.contains("html_extract")).get
      .trim.split("\\s+")(1).toLong == 8L, audit4b)
    // --gopher: the line-rule floor bites symbol spam — re-seed docs
    // (purge) with one clean doc and one all-symbol doc
    val gcsv = dir.resolve("gdocs.csv")
    Files.writeString(gcsv, "doc_id,text\n" +
      "1,good clean prose with words here\n" +
      "2,#### #### ####\n")
    run(conf.toString, "write", "docs", "-f", gcsv.toString, "-p")
    val audit5 = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("gscratch").toString, "--gopher")
    val gRow = audit5.linesIterator.find(_.contains("gopher")).get
    assert(gRow.trim.split("\\s+")(1).toLong == 1L, audit5)
    // incremental curation: --path builds the corpus index on the
    // first run; after a second write, --from <snapshot> narrows the
    // input to the delta and cross_dedup drops the doc that
    // near-duplicates the indexed corpus
    val idx = dir.resolve("mhidx").toString
    val base = ("alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau") // 19 toks
    val icsv = dir.resolve("idocs.csv")
    Files.writeString(icsv, "doc_id,text\n" +
      s"1,$base\n2,completely different words entirely here now\n")
    run(conf.toString, "write", "docs", "-f", icsv.toString, "-p")
    val auditA = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("iscratchA").toString, "--path", idx)
    assert(auditA.contains("cross_dedup") && auditA.contains("index_update"),
      auditA)
    assert(new java.io.File(idx, "_graft_index_meta.json").exists())
    val snapA = run(conf.toString, "snapshots", "docs")
      .trim.linesIterator.toSeq.last
    // batch 2: doc 10 near-duplicates indexed doc 1 (one token
    // appended), doc 11 is fresh
    val icsv2 = dir.resolve("idocs2.csv")
    Files.writeString(icsv2, "doc_id,text\n" +
      s"10,$base extra\n11,utterly novel material nothing shared\n")
    run(conf.toString, "write", "docs", "-f", icsv2.toString)
    val auditB = run(conf.toString, "curate", "docs",
      "--scratch", dir.resolve("iscratchB").toString, "--path", idx,
      "--from", snapA, "--out", "curated")
    // the delta is 2 docs; cross_dedup drops the near-dup of doc 1
    val xRow = auditB.linesIterator.find(_.contains("cross_dedup")).get
    assert(xRow.trim.split("\\s+")(1).toLong == 1L, auditB)
    val inc = run(conf.toString, "read", "curated", "doc_id", "-H",
      "-s", "doc_id", "-F", "(>= doc_id 10)")
    assert(inc.trim == "11", inc)
    // tk index lifecycle over the TEXT corpus index: kind-dispatched
    // append + meta card, and a fresh --kind minhash build
    val beforeN = spark.read.parquet(s"$idx/docs").count()
    val icsv3 = dir.resolve("idocs3.csv")
    Files.writeString(icsv3,
      "doc_id,text\n20,yet more fresh prose tokens appear\n")
    run(conf.toString, "write", "docs", "-f", icsv3.toString)
    val app = run(conf.toString, "index", "append", "docs",
      "doc_id", "text", "--path", idx, "-F", "(>= doc_id 20)")
    assert(app.contains("appended into minhash index"), app)
    assert(spark.read.parquet(s"$idx/docs").count() == beforeN + 1)
    val minfo = run(conf.toString, "index", "info", "--path", idx)
    assert(minfo.contains("kind: minhash"), minfo)
    val idx2 = dir.resolve("mhidx2").toString
    val built = run(conf.toString, "index", "build", "docs",
      "doc_id", "text", "--path", idx2, "--kind", "minhash")
    assert(built.contains("built minhash index"), built)
    assert(new java.io.File(idx2, "_graft_index_meta.json").exists())
  }

  test("sample and shard actions: deterministic slices, bands partition") {
    val dir = Files.createTempDirectory("graft-cli-sample-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema,
      """- table: docs
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |- table: half
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |""".stripMargin)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf.toString, "init")
    val csv = dir.resolve("docs.csv")
    Files.writeString(csv, "doc_id,text\n" +
      (1 to 40).map(i => s"$i,doc number $i").mkString("\n"))
    run(conf.toString, "write", "docs", "-f", csv.toString)
    // deterministic slice: same selection on every run
    val s1 = run(conf.toString, "sample", "docs", "doc_id", "-H",
      "--sample", "0.5")
    assert(s1 == run(conf.toString, "sample", "docs", "doc_id", "-H",
      "--sample", "0.5"))
    val n1 = s1.trim.linesIterator.size
    assert(n1 > 5 && n1 < 35, s1)
    // complementary bands PARTITION the table
    val a = run(conf.toString, "sample", "docs", "doc_id", "-H",
      "--band", "0,0.5").trim.linesIterator.toSet
    val b = run(conf.toString, "sample", "docs", "doc_id", "-H",
      "--band", "0.5,1").trim.linesIterator.toSet
    assert((a & b).isEmpty && (a ++ b).size == 40, s"$a / $b")
    // --out lands survivors in a managed table through the upsert
    run(conf.toString, "sample", "docs", "--sample", "0.5",
      "--out", "half")
    val got = run(conf.toString, "read", "half", "doc_id", "-H")
    assert(got.trim.linesIterator.size == n1, got)
    // shard: one dir per shard, rows partitioned across them exactly
    val sdir = dir.resolve("shards").toString
    run(conf.toString, "shard", "docs", "-f", sdir, "--shards", "4")
    val back = spark.read.parquet(sdir)
    assert(back.count() == 40)
    assert(back.select("shard").distinct().count() == 4)
    // shard --score: curriculum layout — rank by (score, id) with
    // score = doc_id means rank i-1 for doc i: shard (i-1) % 4,
    // position (i-1) / 4
    val cdir = dir.resolve("cshards").toString
    run(conf.toString, "shard", "docs", "-f", cdir, "--shards", "4",
      "--score", "doc_id")
    val cur = spark.read.parquet(cdir).select("doc_id", "shard", "pos")
      .collect().map(r => r.getLong(0) ->
        (r.get(1).toString.toInt, r.getLong(2))).toMap
    assert(cur.size == 40)
    (1L to 40L).foreach { i =>
      assert(cur(i) == (((i - 1) % 4).toInt, (i - 1) / 4), s"doc $i -> ${cur(i)}")
    }
    // a string id column refuses loudly, pointing at --by
    val e = intercept[IllegalArgumentException](
      run(conf.toString, "sample", "docs", "-H", "--sample", "0.5",
        "--by", "text"))
    assert(e.getMessage.contains("--by"), e.getMessage)
    // pack: token-budget shard layout (weight column = doc_id here):
    // shard of doc i must equal floor(sum-of-earlier-weights / budget)
    val pdir = dir.resolve("packed").toString
    run(conf.toString, "pack", "docs", "-f", pdir,
      "--weight", "doc_id", "--budget", "100")
    val pk = spark.read.parquet(pdir).select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    assert(pk.size == 40)
    (1L to 40L).foreach { i =>
      assert(pk(i) == (i * (i - 1) / 2) / 100, s"doc $i -> ${pk(i)}")
    }
    val e3 = intercept[IllegalArgumentException](
      run(conf.toString, "pack", "docs", "-f", pdir, "--weight", "doc_id"))
    assert(e3.getMessage.contains("--budget"), e3.getMessage)
    // read --explain: the formatted physical plan instead of rows,
    // proving parquet pushdown reaches the scan
    val plan = run(conf.toString, "read", "docs", "doc_id",
      "--explain", "-F", "(= doc_id 5)")
    assert(plan.contains("Scan parquet") && plan.contains("PushedFilters"),
      plan)
    // backup action: the copy is a complete warehouse a config can
    // point at directly
    val bdir = dir.resolve("bak").toString
    assert(run(conf.toString, "backup", "-f", bdir).contains("backed up"))
    val conf2 = dir.resolve("tk2.yaml")
    Files.writeString(conf2, s"schema: $schema\nwarehouse: $bdir\n")
    val restored = run(conf2.toString, "read", "docs", "doc_id", "-H")
    assert(restored.trim.linesIterator.size == 40, restored)
    // restore: pull the backup into a THIRD (empty) warehouse root
    val conf3 = dir.resolve("tk3.yaml")
    Files.writeString(conf3,
      s"schema: $schema\nwarehouse: ${dir.resolve("wh3")}\n")
    assert(run(conf3.toString, "restore", "-f", bdir).contains("restored"))
    assert(run(conf3.toString, "read", "docs", "doc_id", "-H")
      .trim.linesIterator.size == 40)
    // restoring over a populated warehouse refuses loudly
    val e2 = intercept[IllegalArgumentException](
      run(conf.toString, "restore", "-f", bdir))
    assert(e2.getMessage.contains("already holds"), e2.getMessage)
      // diff --psi: the scalar distribution-shift gate between the last
    // two snapshots — a second write extends doc_id 1..40 to 1..80,
    // so the pooled-grid histogram visibly shifts (psi > 0)
    val csv2 = dir.resolve("docs2.csv")
    Files.writeString(csv2, "doc_id,text\n" +
      (41 to 80).map(i => s"$i,doc number $i").mkString("\n"))
    run(conf.toString, "write", "docs", "-f", csv2.toString)
    val psiOut = run(conf.toString, "diff", "docs", "--psi", "doc_id")
    val prow = psiOut.trim.linesIterator.toSeq
    assert(prow.head == "psi,n_before,n_after", psiOut)
    val pvals = prow(1).split(",")
    assert(pvals(0).toDouble > 0.1 && pvals(1) == "40" && pvals(2) == "80",
      psiOut)
    // a non-numeric column refuses loudly
    val epsi = intercept[IllegalArgumentException](
      run(conf.toString, "diff", "docs", "--psi", "text"))
    assert(epsi.getMessage.contains("non-null"), epsi.getMessage)
    // --incremental failback: wh3 is a stale but UN-diverged copy of
    // the standby (restored above, never written since), so after the
    // standby moves on, an incremental restore catches wh3 up in place
    val csvX = dir.resolve("docsX.csv")
    Files.writeString(csvX, "doc_id,text\n99,late standby-side doc\n")
    run(conf2.toString, "write", "docs", "-f", csvX.toString) // standby moved on
    run(conf3.toString, "restore", "-f", bdir, "--incremental")
    val caught = run(conf3.toString, "read", "docs", "doc_id", "-H",
      "-F", "(= doc_id 99)")
    assert(caught.trim == "99", caught)
    // the PRIMARY diverged (it wrote 41..80 after the backup): both
    // timelines minted the same snap names independently, so an
    // incremental copy would union two different snapshots into one
    // dir — it must refuse loudly, never merge
    val ediv = intercept[IllegalStateException](
      run(conf.toString, "restore", "-f", bdir, "--incremental"))
    assert(ediv.getMessage.contains("diverged"), ediv.getMessage)
  }

  test("compact action: --zorder records the property; reads stay exact") {
    val dir = Files.createTempDirectory("graft-cli-compact-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema,
      """- table: grid
        |  columns:
        |    a: bigint
        |    b: bigint
        |  key: [a, b]
        |  use-index: brin
        |""".stripMargin)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf.toString, "init")
    val csv = dir.resolve("grid.csv")
    Files.writeString(csv, "a,b\n" +
      (0 until 256).map(i => s"$i,${(i * 167) % 256}").mkString("\n"))
    run(conf.toString, "write", "grid", "-f", csv.toString)
    val out = run(conf.toString, "compact", "grid", "--zorder", "a,b")
    assert(out.contains("zorder: a,b"), out)
    assert(run(conf.toString, "info", "grid").contains("zorder: a,b"))
    // the re-clustered layout answers a secondary-key filter exactly
    val got = run(conf.toString, "read", "grid", "a", "b", "-H",
      "-F", "(= b 100)")
    assert(got.trim == "252,100", got)
    // plain compact keeps the property; --zorder "" clears it
    assert(run(conf.toString, "compact", "grid").contains("zorder: a,b"))
    val cleared = run(conf.toString, "compact", "grid", "--zorder", "")
    assert(!cleared.contains("zorder"), cleared)
  }

  test("index action: build, info, recall, append, retrain lifecycle") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-cli-index-")
    val schemaYaml =
      """- table: vectors
        |  columns:
        |    vec_id: bigint
        |    embedding: float[]
        |  key: [vec_id]
        |""".stripMargin
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema, schemaYaml)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf.toString, "init")
    // seed two clean axis clusters through the library (same root,
    // same process -> same writer lease)
    val env = graft.Env(spark,
      graft.schema.Registry.fromYaml(schemaYaml), dir.resolve("wh").toString)
    val vschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, vschema)
    env.view("vectors", Seq("vec_id", "embedding")).write(vdf(
      (0 until 10).map(i => (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
      (0 until 10).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f)))))
    val idx = dir.resolve("idx").toString
    // build + info
    val built = run(conf.toString, "index", "build", "vectors",
      "vec_id", "embedding", "--path", idx, "--kind", "ivf", "--nlist", "2")
    assert(built.contains("built ivf index") && built.contains("4 dims"), built)
    val info = run(conf.toString, "index", "info", "--path", idx)
    assert(info.contains("kind: ivf") && info.contains("nlist: 2") &&
      info.contains("centroids: [2 entries]"), info)
    // full-probe recall over both cells reproduces brute force
    val rec = run(conf.toString, "index", "recall", "vectors",
      "vec_id", "embedding", "--path", idx, "--k", "5", "--queries", "4",
      "--nprobe", "2")
    val recalls = rec.trim.linesIterator.drop(1)
      .map(_.split(",")(1).toDouble).toSeq
    assert(recalls.size == 4 && recalls.forall(_ == 1.0), rec)
    // append a filtered batch of NEW table rows into the index
    env.view("vectors", Seq("vec_id", "embedding")).write(vdf(Seq(
      (200L, Seq(1f, 0.2f, 0f, 0f)), (201L, Seq(0.2f, 1f, 0f, 0f)))))
    val app = run(conf.toString, "index", "append", "vectors",
      "vec_id", "embedding", "--path", idx, "-F", "(>= vec_id 200)")
    assert(app.contains("appended into ivf index"), app)
    assert(spark.read.parquet(idx).count() == 22L)
    // retrain (kind from the meta) resets the drift baseline
    val ret = run(conf.toString, "index", "retrain", "vec_id", "embedding",
      "--path", idx)
    assert(ret.contains("retrained ivf index"), ret)
    val info2 = run(conf.toString, "index", "info", "--path", idx)
    assert(info2.contains("trainedCount: 22"), info2)
    // loud errors: missing --path, unknown sub-action
    assert(intercept[IllegalArgumentException](
      run(conf.toString, "index", "info")).getMessage.contains("--path"))
    assert(intercept[IllegalArgumentException](
      run(conf.toString, "index", "bogus", "--path", idx))
      .getMessage.contains("sub-action"))
    // the EMBEDDINGS curate recipe over the same vector table: the
    // 0.01-step cluster members sit above cosine 0.99, so the
    // near-dedup stage genuinely bites
    val cur = run(conf.toString, "curate", "vectors", "vec_id", "embedding",
      "--embeddings", "--scratch", dir.resolve("escratch").toString,
      "--k", "2")
    assert(cur.contains("float32") && cur.contains("exact_dedup") &&
      cur.contains("near_dedup") && cur.contains("semantic_dedup"), cur)
    // table cells are space-padded: (stage, rows_out, seconds)
    val lastRows = cur.linesIterator.find(_.contains("semantic_dedup")).get
      .trim.split("\\s+")(1).toLong
    assert(lastRows > 0 && lastRows < 22, cur)
  }

  test("embed action: model-free vectors feed the index + curate chain") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-cli-embed-")
    val schemaYaml =
      """- table: docs
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |- table: vectors
        |  columns:
        |    doc_id: bigint
        |    embedding: float[]
        |  key: [doc_id]
        |""".stripMargin
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema, schemaYaml)
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: ${dir.resolve("wh")}\n")
    run(conf.toString, "init")
    val env = graft.Env(spark,
      graft.schema.Registry.fromYaml(schemaYaml), dir.resolve("wh").toString)
    val dschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    env.view("docs", Seq("doc_id", "text")).write(spark.createDataFrame(Seq(
      (1L, "spark shuffles keyed data across the executors " * 3),
      (2L, "spark shuffles keyed data across the executors " * 3),
      (3L, "totally different cooking vocabulary tonight " * 3))
      .map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, dschema))
    // embed into a managed table: unit-norm 16d vectors, one per doc
    val emb = run(conf.toString, "embed", "docs", "--dims", "16",
      "--out", "vectors")
    assert(emb.contains("embedded docs (16d) into vectors"), emb)
    val vecs = env.view("vectors", Seq("doc_id", "embedding")).read()
    assert(vecs.count() == 3L)
    import org.apache.spark.sql.functions._
    val norms = vecs.select(sqrt(aggregate(col("embedding"), lit(0.0d),
      (a, x) => a + x * x))).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-6), norms.toSeq.toString)
    // -f exports a parquet dir instead
    val pq = dir.resolve("embpq").toString
    run(conf.toString, "embed", "docs", "--dims", "16", "-f", pq)
    assert(spark.read.parquet(pq).count() == 3L)
    // the embedded table drives the index lifecycle unchanged
    val idx = dir.resolve("idx").toString
    val built = run(conf.toString, "index", "build", "vectors",
      "doc_id", "embedding", "--path", idx, "--kind", "lsh")
    assert(built.contains("built lsh index"), built)
    // curate --embeddings --bench: doc 3's vector as the bench set
    // decontaminates doc 3; docs 1/2 dedup to one survivor
    env.view("vectors", Seq("doc_id", "embedding")).write(
      spark.read.parquet(pq).filter(col("doc_id") === 3L)
        .select((col("doc_id") + 100L).as("doc_id"), col("embedding")))
    val benchSchema = schemaYaml +
      """- table: bench
        |  columns:
        |    doc_id: bigint
        |    embedding: float[]
        |  key: [doc_id]
        |""".stripMargin
    Files.writeString(schema, benchSchema)
    val env2 = graft.Env(spark,
      graft.schema.Registry.fromYaml(benchSchema), dir.resolve("wh").toString)
    env2.createTables()
    env2.view("bench", Seq("doc_id", "embedding")).write(
      spark.read.parquet(pq).filter(col("doc_id") === 3L))
    val cur = run(conf.toString, "curate", "vectors", "doc_id", "embedding",
      "--embeddings", "--scratch", dir.resolve("cscratch").toString,
      "--k", "2", "--bench", "bench")
    assert(cur.contains("semantic_decontaminate"), cur)
    val lastRows = cur.linesIterator
      .find(_.contains("semantic_decontaminate")).get
      .trim.split("\\s+")(1).toLong
    // 4 rows in: dup pair (1,2) collapses, 3 and 103 are bench hits
    assert(lastRows == 1L, cur)
    // loud errors: --dims required; somewhere to write required
    assert(intercept[IllegalArgumentException](
      run(conf.toString, "embed", "docs")).getMessage.contains("--dims"))
    assert(intercept[IllegalArgumentException](
      run(conf.toString, "embed", "docs", "--dims", "8"))
      .getMessage.contains("--out"))
  }

  test("yaml input and output") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val yml = java.nio.file.Paths.get(dir, "teams.yaml")
    Files.writeString(yml,
      "- name: Blue\n  country.name: Belgium\n- name: Red\n  country.name: France\n")
    run(conf, "write", "team", "--yaml", "-f", yml.toString)
    val out = run(conf, "read", "team", "name", "--yaml", "-s", "name")
    assert(out == "- name: Blue\n- name: Red\n", out)
  }

  test("ascii table and vbar renderers") {
    assert(Render.asciiTable(
      Seq(Seq("a", "1"), Seq("bbb", "22")), Some(Seq("x", "y"))).mkString ==
      "x   y \n--- --\na   1 \nbbb 22\n")
    val plot = Render.vbar(Seq(Seq("a", 2.0), Seq("b", -1.0)), plotWidth = 6).mkString
    assert(plot.contains("|") && plot.contains("•"), plot)
    assert(Render.parseCsvRow("""a,"b,c",d""") == Seq("a", "b,c", "d"))
  }

  test("backup --indexes: round-trips persisted indexes, loud listing otherwise") {
    val dir = Files.createTempDirectory("graft-cli-bakidx-")
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema,
      """- table: docs
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |""".stripMargin)
    val wh = dir.resolve("wh").toString
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: $wh\n")
    run(conf.toString, "init")
    val csv = dir.resolve("docs.csv")
    Files.writeString(csv, "doc_id,text\n" +
      (1 to 20).map(i => s"$i,unique prose tokens for document $i").mkString("\n"))
    run(conf.toString, "write", "docs", "-f", csv.toString)
    // a persisted corpus index UNDER the warehouse root — discoverable
    val idx = s"$wh/mhidx"
    run(conf.toString, "index", "build", "docs", "doc_id", "text",
      "--path", idx, "--kind", "minhash")
    // default backup leaves the index behind and SAYS SO (a restore
    // without it silently re-bootstraps from the full corpus)
    val bdir = dir.resolve("bak").toString
    val o1 = run(conf.toString, "backup", "-f", bdir)
    assert(o1.contains("indexes left behind"), o1)
    assert(o1.contains("mhidx"), o1)
    assert(!new java.io.File(bdir, "mhidx").exists())
    // --indexes copies the index dir too, meta sidecar included
    val bdir2 = dir.resolve("bak2").toString
    val o2 = run(conf.toString, "backup", "-f", bdir2, "--indexes")
    assert(!o2.contains("left behind"), o2)
    assert(new java.io.File(s"$bdir2/mhidx", "_graft_index_meta.json").exists())
    // restore into an empty root brings the index back: probe it with
    // a kind-dispatched append + info straight against the restored dir
    val wh3 = dir.resolve("wh3").toString
    val conf3 = dir.resolve("tk3.yaml")
    Files.writeString(conf3, s"schema: $schema\nwarehouse: $wh3\n")
    assert(run(conf3.toString, "restore", "-f", bdir2).contains("restored"))
    val rIdx = s"$wh3/mhidx"
    val before = spark.read.parquet(s"$rIdx/docs").count()
    assert(before == spark.read.parquet(s"$idx/docs").count())
    assert(run(conf3.toString, "index", "info", "--path", rIdx)
      .contains("kind: minhash"))
    val csv2 = dir.resolve("docs2.csv")
    Files.writeString(csv2, "doc_id,text\n21,fresh appended document body\n")
    run(conf3.toString, "write", "docs", "-f", csv2.toString)
    val app = run(conf3.toString, "index", "append", "docs",
      "doc_id", "text", "--path", rIdx, "-F", "(>= doc_id 21)")
    assert(app.contains("appended into minhash index"), app)
    assert(spark.read.parquet(s"$rIdx/docs").count() == before + 1)
  }

  test("incremental backup --indexes survives a retrain; standby serves") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-cli-bakret-")
    val schemaYaml =
      """- table: vectors
        |  columns:
        |    vec_id: bigint
        |    embedding: float[]
        |  key: [vec_id]
        |""".stripMargin
    val schema = dir.resolve("schema.yaml")
    Files.writeString(schema, schemaYaml)
    val wh = dir.resolve("wh").toString
    val conf = dir.resolve("tk.yaml")
    Files.writeString(conf, s"schema: $schema\nwarehouse: $wh\n")
    run(conf.toString, "init")
    val env = graft.Env(spark,
      graft.schema.Registry.fromYaml(schemaYaml), wh)
    val vschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def vdf(rows: Seq[(Long, Seq[Float])]) = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, vschema)
    env.view("vectors", Seq("vec_id", "embedding")).write(vdf(
      (0 until 10).map(i => (i.toLong, Seq(1f, 0.01f * i, 0f, 0f))) ++
      (0 until 10).map(i => (100L + i, Seq(0.01f * i, 1f, 0f, 0f)))))
    val idx = s"$wh/ividx"
    run(conf.toString, "index", "build", "vectors", "vec_id", "embedding",
      "--path", idx, "--kind", "ivf", "--nlist", "2")
    val bdir = dir.resolve("bak").toString
    assert(run(conf.toString, "backup", "-f", bdir, "--indexes")
      .contains("backed up"))
    // source moves on: new rows appended into the index, then a
    // RETRAIN rename-swaps the whole index dir — every part file under
    // it now has a name the standby's copy doesn't hold. The refresh
    // must NOT read that as divergence (index dirs mutate legitimately)
    env.view("vectors", Seq("vec_id", "embedding")).write(vdf(Seq(
      (200L, Seq(1f, 0.2f, 0f, 0f)), (201L, Seq(0.2f, 1f, 0f, 0f)))))
    run(conf.toString, "index", "append", "vectors", "vec_id", "embedding",
      "--path", idx, "-F", "(>= vec_id 200)")
    run(conf.toString, "index", "retrain", "vec_id", "embedding",
      "--path", idx)
    val o = run(conf.toString, "backup", "-f", bdir,
      "--indexes", "--incremental")
    assert(o.contains("backed up"), o)
    // the swap cleaned up after itself — no scratch or retired siblings
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(bdir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith("__retrain") || n.endsWith("__old")).toSeq
    assert(leftovers.isEmpty, leftovers.toString)
    // the operator story end-to-end on the standby: fsck --reclaim,
    // then a table read AND an index probe against the refreshed root
    val conf2 = dir.resolve("tk2.yaml")
    Files.writeString(conf2, s"schema: $schema\nwarehouse: $bdir\n")
    run(conf2.toString, "fsck", "--reclaim")
    val got = run(conf2.toString, "read", "vectors", "vec_id", "-H")
    assert(got.trim.linesIterator.size == 22, got)
    val sIdx = s"$bdir/ividx"
    // the standby index holds the RETRAINED state (22 trained rows)
    assert(run(conf2.toString, "index", "info", "--path", sIdx)
      .contains("trainedCount: 22"))
    val rec = run(conf2.toString, "index", "recall", "vectors",
      "vec_id", "embedding", "--path", sIdx, "--k", "5", "--queries", "4",
      "--nprobe", "2")
    val recalls = rec.trim.linesIterator.drop(1)
      .map(_.split(",")(1).toDouble).toSeq
    assert(recalls.size == 4 && recalls.forall(_ == 1.0), rec)
  }

  test("fsck action: clean report, orphan listing, --reclaim") {
    val (conf, dir) = cfg()
    run(conf, "init")
    val csv = java.nio.file.Paths.get(dir, "c.csv")
    Files.writeString(csv, "name\nBelgium\n")
    run(conf, "write", "country", "-f", csv.toString)
    assert(run(conf, "fsck").trim == "warehouse clean")
    // plant an orphan snapshot + torn swap, then audit and reclaim
    val wh = java.nio.file.Paths.get(dir, "wh")
    val orphan = wh.resolve("country/snap-0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), new Array[Byte](64))
    Files.createFile(wh.resolve("_ROOT.tmp-7"))
    val rep = run(conf, "fsck")
    assert(rep.contains("orphan-snapshot") && rep.contains("stale-tmp") &&
      rep.contains("reclaimable"), rep)
    val rec = run(conf, "fsck", "--reclaim")
    assert(rec.contains("reclaimed"), rec)
    assert(run(conf, "fsck").trim == "warehouse clean")
    assert(!Files.exists(orphan))
  }
}
