package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.view.Order
import graft.ops.{Dedup, Similarity, Text}

/** Driver contract — one entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline operators), each routed through
  * the engine (Testbed registry + View API / ops modules), with
  * DuckDB-equivalent SQL for the correctness gate where expressible.
  */
object SparkEntry {

  private def env(s: SparkSession, dir: String): Env = Testbed.env(s, dir)

  /** Fixed scratch path (re-used and overwritten across invocations in
    * one JVM, so repeated Verify/Bench runs don't accumulate copies)
    * deleted on JVM exit. PID-scoped: two concurrent JVMs (a bench and
    * a test run) must not overwrite each other's live index dirs. */
  private def scratchDir(name: String): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-${ProcessHandle.current().pid()}-$name")
    if (scratchRegistered.add(d.getAbsolutePath))
      sys.addShutdownHook {
        try org.apache.commons.io.FileUtils.deleteDirectory(d) catch { case _: Exception => }
      }
    d.getAbsolutePath
  }
  private val scratchRegistered = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    .keySet(true)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R1/R8/R11: projection + grouped aggregation + sort (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) =>
      env(s, dir).viewNamed("lineitem", Seq(
        "l_returnflag" -> "l_returnflag",
        "l_linestatus" -> "l_linestatus",
        "sum_qty" -> "(sum l_quantity)",
        "sum_base_price" -> "(sum l_extendedprice)",
        "sum_disc_price" -> "(sum (* l_extendedprice (- 1 l_discount)))",
        "avg_qty" -> "(avg l_quantity)",
        "count_order" -> "(count)"))
        .read(groupby = Seq("l_returnflag", "l_linestatus"),
          order = Seq(Order("l_returnflag"), Order("l_linestatus")))),

    // R4/R5: filter with positional + named parameter binding
    "q2_filter_params" -> ((s, dir) =>
      env(s, dir).view("lineitem", Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .read(Seq("(and (< l_quantity {0}) (= l_returnflag {flag}))"),
          args = Seq(5), kwargs = Map("flag" -> "A"))),

    // R6: dotted M2O join
    "q3_m2o_join" -> ((s, dir) =>
      env(s, dir).viewNamed("lineitem", Seq(
        "l_orderkey" -> "l_orderkey", "l_linenumber" -> "l_linenumber",
        "o_priority" -> "l_orderkey.o_orderpriority"))
        .read(Seq("""(= l_orderkey.o_orderstatus "F")"""))),

    // R6: three-hop dotted path orders→customer→nation→region
    "q4_m2o_deep" -> ((s, dir) =>
      env(s, dir).viewNamed("orders", Seq(
        "o_orderkey" -> "o_orderkey",
        "region" -> "o_custkey.c_nationkey.n_regionkey.r_name"))
        .read(Seq("(> o_totalprice 200000)"))),

    // R7: O2M reverse join (row-multiplying, NULL-preserving)
    "q5_o2m" -> ((s, dir) =>
      env(s, dir).viewNamed("region",
        Seq("r_name" -> "r_name", "n_name" -> "nations.n_name")).read()),

    // R7+R9: aggregate over an O2M child with NULL-preserving parents
    // (SURVEY §7.5 hard part 5: count(child col) ignores the NULL rows
    // unmatched parents get from the left join)
    "q5b_o2m_agg" -> ((s, dir) =>
      env(s, dir).viewNamed("region", Seq(
        "r_name" -> "r_name", "cnt" -> "(count nations.n_name)",
        "top" -> "(max nations.n_name)")).read()),

    // R9: auto-groupby (aggregates + bare columns, no groupby given)
    "q6_auto_groupby" -> ((s, dir) =>
      env(s, dir).viewNamed("orders", Seq(
        "o_orderstatus" -> "o_orderstatus", "cnt" -> "(count)",
        "total" -> "(sum o_totalprice)")).read()),

    // R10: distinct
    "q7_distinct" -> ((s, dir) =>
      env(s, dir).view("orders", Seq("o_orderpriority")).read(distinct = true)),

    // R11/R12: order + limit + offset (top-k path)
    "q8_order_limit_offset" -> ((s, dir) =>
      env(s, dir).view("orders", Seq("o_orderkey", "o_totalprice"))
        .read(order = Seq(Order("o_totalprice", "DESC"), Order("o_orderkey")),
          limit = Some(10), offset = Some(5))),

    // in-list + like
    "q9_in_like" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq("""(and (in c_mktsegment "BUILDING" "AUTOMOBILE") (like c_name "%1%"))"""))),

    // R15: correlated EXISTS → semi join
    "q10_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq("(exists (from orders (select 1) (where (and (= o_custkey _parent.c_custkey) (> o_totalprice 150000)))))"))),

    // R15: NOT EXISTS → anti join
    "q11_not_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq("(not (exists (from orders (select 1) (where (= o_custkey _parent.c_custkey)))))"))),

    // R16: IN-subquery
    "q12_in_subquery" -> ((s, dir) =>
      env(s, dir).view("supplier", Seq("s_suppkey", "s_name"))
        .read(Seq("(in s_nationkey (from nation (select n_nationkey) (where (= n_regionkey 0))))"))),

    // R15 multi-level: nested EXISTS where the inner sub correlates
    // with its grandparent (customer) — the `_parent._parent.` hoist
    "q32_nested_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (exists (from lineitem (select 1) (where
            |         (and (= l_orderkey _parent.o_orderkey)
            |              (= l_linenumber _parent._parent.c_nationkey)))))))))""".stripMargin))),

    // cast / extract / date_trunc / strftime
    "q13_dates" -> ((s, dir) =>
      env(s, dir).viewNamed("orders", Seq(
        "o_orderkey" -> "o_orderkey",
        "yr" -> "(cast (extract (year) o_orderdate) (bigint))",
        "mon" -> """(date_trunc "month" o_orderdate)""",
        "ym" -> """(strftime "%Y-%m" o_orderdate)""",
        "d" -> "(cast o_orderdate (date))"))
        .read(Seq("(< o_orderkey 100)"))),

    // arithmetic (variadic, floor, division)
    "q14_arith" -> ((s, dir) =>
      env(s, dir).viewNamed("lineitem", Seq(
        "l_orderkey" -> "l_orderkey", "l_linenumber" -> "l_linenumber",
        "revenue" -> "(* l_extendedprice (- 1 l_discount))",
        "charge" -> "(* l_extendedprice (- 1 l_discount) (+ 1 l_tax))",
        "qf" -> "(cast (floor (/ l_quantity 2)) (bigint))"))
        .read(Seq("(< l_orderkey 50)"))),

    // ->> JSON access + is/isnot
    "q15_json" -> ((s, dir) =>
      env(s, dir).viewNamed("events", Seq(
        "event_id" -> "event_id", "k" -> """(->> props "k")"""))
        .read(Seq("(isnot props null)"))),

    // any/all array quantifiers (higher-order functions, no explode)
    "q16_any_all" -> ((s, dir) =>
      env(s, dir).view("embeddings", Seq("vec_id"))
        .read(Seq("(< 0.35 (any embedding))", "(> 0.9 (all embedding))"))),

    // unnest generator in projection
    "q17_unnest" -> ((s, dir) =>
      env(s, dir).viewNamed("embeddings",
        Seq("vec_id" -> "vec_id", "x" -> "(unnest embedding)"))
        .read(Seq("(< vec_id 20)"))),

    // boolean aggregates
    "q18_bool_agg" -> ((s, dir) =>
      env(s, dir).viewNamed("orders", Seq(
        "o_orderstatus" -> "o_orderstatus",
        "all_filled" -> "(bool_and (isnot o_orderdate null))",
        "any_big" -> "(bool_or (> o_totalprice 300000))"))
        .read(groupby = Seq("o_orderstatus"))),

    // group on expression
    "q19_group_expr" -> ((s, dir) =>
      env(s, dir).viewNamed("events", Seq(
        "day" -> """(date_trunc "day" ts)""",
        "total" -> "(sum value)", "cnt" -> "(count)"))
        .read(groupby = Seq("day"))),

    // W1-W6: write round-trip — insert aggregated totals into a
    // managed table, then a partial update write, read back
    "q20_write_roundtrip" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val totals = e.viewNamed("supplier", Seq(
        "name" -> "s_nationkey.n_name",
        "total" -> "(sum s_acctbal)",
        "regionkey" -> "s_nationkey.n_regionkey")).read()
      e.view("nation_total", Seq("name", "total", "regionkey")).write(totals)
      val zeroed = e.viewNamed("nation", Seq(
        "name" -> "n_name", "total" -> "(+ 0.0 0.0)"))
        .read(Seq("(= n_regionkey 0)"))
      e.view("nation_total", Seq("name", "total")).write(zeroed, insert = false)
      e.view("nation_total", Seq("name", "total", "regionkey")).read()
    }),

    // W12: delete-by-filter round-trip
    "q21_delete_roundtrip" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val all = e.viewNamed("nation", Seq(
        "name" -> "n_name", "total" -> "(cast 1.5 (float))",
        "regionkey" -> "n_regionkey")).read()
      e.view("nation_total", Seq("name", "total", "regionkey")).write(all)
      e.view("nation_total", Seq("name")).delete(
        filters = Seq("(= regionkey 1)"))
      e.view("nation_total", Seq("name", "total", "regionkey")).read()
    }),

    // W5 toggles: update=false preserves stored values, insert=false
    // drops unmatched rows (view.py:428-439)
    "q23_write_toggles" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val all = e.viewNamed("nation", Seq(
        "name" -> "n_name", "total" -> "(+ 0.5 0.5)",
        "regionkey" -> "n_regionkey")).read()
      val v = e.view("nation_total", Seq("name", "total", "regionkey"))
      v.write(all)
      v.write(all.withColumn("total", lit(2.0)), update = false) // DO NOTHING
      e.view("nation_total", Seq("name", "total"))
        .write(Seq(Seq("ZZZ-nowhere", 9.0)), insert = false) // updates only
      e.view("nation_total", Seq("name", "total")).read()
    }),

    // W8: purge round-trip — rows absent from the batch are deleted
    "q24_purge" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val v = e.view("nation_total", Seq("name", "total", "regionkey"))
      v.write(e.viewNamed("nation", Seq("name" -> "n_name",
        "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey")).read())
      val keep = e.viewNamed("nation", Seq("name" -> "n_name",
        "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey"))
        .read(Seq("(= n_regionkey 0)"))
      v.write(keep, purge = true)
      e.view("nation_total", Seq("name", "regionkey")).read()
    }),

    // R17: ACL read filters injected into every read
    "q25_acl_read" -> ((s, dir) => {
      val e = env(s, dir)
      e.aclRead += ("supplier" -> Seq("(= s_nationkey.n_regionkey 1)"))
      e.view("supplier", Seq("s_suppkey", "s_name")).read()
    }),

    // R5: list parameter auto-expansion inside (in ...)
    "q26_param_list" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey"))
        .read(Seq("(in c_mktsegment {segs})"),
          kwargs = Map("segs" -> Seq("BUILDING", "MACHINERY")))),

    // S5: introspection — write through a schema'd env, reopen the
    // warehouse in auto mode, read through the introspected registry
    "q27_introspect" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 2.0 0.0)", "regionkey" -> "n_regionkey")).read())
      val auto = Env.introspect(s, e.warehouse.root)
      auto.view("nation_total", Seq("name", "total", "regionkey")).read()
    }),

    // W3: dotted-FK write resolution round-trip — FK ids looked up by
    // the remote natural value via the broadcast lookup join
    "q22_fk_write" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val batch = e.view("customer", Seq("c_name"))
        .read(Seq("(< c_custkey 21)"))
        .select(col("c_name").as("custkey.c_name"), lit("hello").as("note"))
      e.view("cust_note", Seq("custkey.c_name", "note")).write(batch)
      e.view("cust_note", Seq("custkey", "note")).read()
    }),

    // W6: write-by-id — the surrogate id as merge key (view.py:104-115:
    // id mapped ⇒ key is id). Seed by natural key, fetch the ids of the
    // first five rows in key order, update their totals through an
    // (id, total) view.
    "q28_write_by_id" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey")).read())
      val ids = e.view("nation_total", Seq("id"))
        .read(order = Seq(Order("name")), limit = Some(5))
        .collect().map(_.getLong(0)).toSeq
      e.view("nation_total", Seq("id", "total"))
        .write(ids.map(i => Seq[Any](i, 9.0)), insert = false)
      e.view("nation_total", Seq("name", "total")).read()
    }),

    // W9: ACL write filters — new-vs-old two-pass drop: an update batch
    // covering every row only lands on rows whose STORED values pass
    // the mandatory filter (tests/acl_test.py:62-107 semantics).
    "q29_acl_write" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey")).read())
      e.aclWrite += ("nation_total" -> Seq("(= regionkey 0)"))
      e.view("nation_total", Seq("name", "total"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 5.0 0.0)")).read())
      e.view("nation_total", Seq("name", "total", "regionkey")).read()
    }),

    // W11: delete-by-data — batch rows name the doomed keys
    // (tests/delete_test.py semantics; filters-variant is q21).
    "q30_delete_by_data" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey")).read())
      val doomed = e.view("nation", Seq("n_name"))
        .read(Seq("(= n_regionkey 1)")).collect().map(r => Seq[Any](r.getString(0))).toSeq
      e.view("nation_total", Seq("name")).delete(data = doomed)
      e.view("nation_total", Seq("name", "total", "regionkey")).read()
    }),

    // W13: delete-all, then reseed — ids restart from 1 (the id
    // high-water mark is re-derived from the emptied snapshot).
    "q31_delete_all" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 1.0 0.0)", "regionkey" -> "n_regionkey")).read())
      e.view("nation_total").delete()
      e.view("nation_total", Seq("name", "total", "regionkey"))
        .write(e.viewNamed("nation", Seq("name" -> "n_name",
          "total" -> "(+ 2.0 0.0)", "regionkey" -> "n_regionkey"))
          .read(Seq("(= n_regionkey 0)")))
      e.view("nation_total", Seq("id", "name", "total")).read()
    }),

    // R15 non-equi: EXISTS correlated on an inequality — decorrelated
    // as a per-equi-group min/max reduction, no correlated subquery
    "q33_nonequi_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (> o_totalprice _parent.c_acctbal)))))""".stripMargin))),

    // R15 multi-non-equi: TWO inequality correlations must be
    // jointly satisfied by one sub row — decorrelated as a skyline-
    // pruned distinct-tuple carry per equi-group + an exists() HOF
    "q34_multi_nonequi_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (> o_totalprice _parent.c_acctbal)
            |       (< o_orderkey (* _parent.c_custkey 40))))))""".stripMargin))),

    // EXISTS over a correlated OR — distributes into per-disjunct
    // variants (∃r (A∨B) = ∃r A ∨ ∃r B), each decorrelating on its own
    "q36_or_exists" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (or (> o_totalprice _parent.c_acctbal)
            |           (< o_orderkey (* _parent.c_custkey 40)))))))""".stripMargin))),

    // R15 negated DUAL-SCOPE nested subquery (the last expression gap,
    // closed round 12): the inner NOT EXISTS references both its
    // enclosing sub (orders, equi) and the outer scope (customer,
    // non-equi) — hoisted as a carried distinct-tuple list tested
    // witness-free at the customer scope
    "q38_neg_dual_scope" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (not (exists (from lineitem (select 1) (where
            |         (and (= l_orderkey _parent.o_orderkey)
            |              (> l_extendedprice _parent._parent.c_acctbal))))))))))""".stripMargin))),

    // R15 round 12b: the negated dual-scope sub ALSO carries a
    // NON-equi correlation to its own parent (orders) — the compared
    // lineitem expression rides the tuple, the order's totalprice
    // rides the carried struct, both tested in the nested HOF
    "q38b_dual_scope_nonequi" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (not (exists (from lineitem (select 1) (where
            |         (and (= l_orderkey _parent.o_orderkey)
            |              (> (* l_quantity 2000) _parent.o_totalprice)
            |              (> l_extendedprice _parent._parent.c_acctbal))))))))))""".stripMargin))),

    // R15 round 14: the negated dual-scope sub's outer comparison
    // targets the GREAT-grandparent (customer, three scopes up) — the
    // collected witness arrays nest through a second flag frame and
    // the test lands where c_acctbal lives
    "q40_deep_neg_scope" -> ((s, dir) =>
      env(s, dir).view("customer", Seq("c_custkey", "c_name"))
        .read(Seq(
          """(exists (from orders (select 1) (where
            |  (and (= o_custkey _parent.c_custkey)
            |       (exists (from lineitem (select 1) (where
            |         (and (= l_orderkey _parent.o_orderkey)
            |              (not (exists (from lineitem (select 1) (where
            |                (and (= l_orderkey _parent.l_orderkey)
            |                     (> l_extendedprice _parent._parent._parent.c_acctbal))))))))))))))""".stripMargin))),

    // LLM-pipeline: exact dedup (hash-groupBy, keep smallest id)
    "dedup_exact" -> ((s, dir) => {
      val docs = env(s, dir).view("documents",
        Seq("doc_id", "text", "source")).read()
      Dedup.exact(docs, Seq("text"), "doc_id")
    }),

    // LLM-pipeline: normalized-fingerprint dedup
    "dedup_fingerprint" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Dedup.byFingerprint(docs, "text", "doc_id").select(col("doc_id"))
    }),

    // LLM-pipeline: MinHash-LSH near-dup candidate pairs (banded,
    // Jaccard-verified) — not SQL-expressible, rows-only check
    "dedup_minhash_pairs" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.2)
        .orderBy(col("idA"), col("idB"))
    }),

    // LLM-pipeline: end-to-end near-dedup — drop the larger id of
    // every verified near-duplicate pair, keep the rest
    "dedup_minhash_apply" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.2)
        .select(col("doc_id"))
    }),

    // LLM-pipeline: EXACT n-gram Jaccard pairs via the shingle
    // inverted index (df-capped posting lists, true-jaccard verify) —
    // the deterministic complement to the LSH miners; oracle is the
    // brute-force self-join
    "dedup_jaccard_pairs" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.2)
        .orderBy(col("idA"), col("idB"))
    }),

    // LLM-pipeline: video frame sampling — the explode shape over a
    // synthetic per-doc duration (100ms per 100 chars, min 1 frame)
    // LLM-pipeline: REAL video container probe (pure-JVM ISO BMFF box
    // parse, no codec, no external binary) over synthesized MP4
    // headers whose mvhd/tkhd facts are pure arithmetic of n_chars —
    // frame sampling then uses the PROBED duration, so the whole
    // probe → sample chain is oracle-gated
    "multimodal_frames" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val mp4 = udf((n: Long) => graft.ops.Multimodal.synthMp4(
        (500 + (n % 2000)).toInt, (160 + (n % 8) * 16).toInt,
        (120 + ((n / 3) % 6) * 16).toInt))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(mp4(col("n_chars")), "video/mp4",
          concat(lit("doc://"), col("doc_id"))).as("media"))
      val probed = graft.ops.Multimodal.videoFeatures(media, "media")
        .filter(col("video.probed")) // a parse regression empties rows
        .withColumn("media", struct(
          col("media.bytes").as("bytes"), col("media.mime").as("mime"),
          col("video.width").as("width"), col("video.height").as("height"),
          col("video.duration_ms").as("duration_ms"),
          col("media.source_uri").as("source_uri")))
      graft.ops.Multimodal.frameSample(probed, "media", everyMs = 250.0)
        .select(col("doc_id"), col("media.width").as("width"),
          col("media.height").as("height"), col("frame_ts_ms"))
    }),

    // LLM-pipeline: C4-style line cleaning — the boilerplate scrub
    // (short/fragment lines dropped) every web-corpus pipeline runs
    // before dedup; lines come from sentence-splitting the docs
    "text_clean" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      docs.select(col("doc_id"),
        Text.cleanLines(regexp_replace(col("text"), "\\. ", "\n"),
          minWords = 5, requireTerminal = false).as("cleaned"))
    }),

    // LLM-pipeline: Unicode hygiene — NFC (native codegen kernel) +
    // CRLF canonicalization + control stripping. Mojibake is planted
    // (decomposed e+U+0301, a NUL, a CRLF) so the oracle proves the
    // normalizer bites, not just passes ASCII through.
    "text_normalize" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      val planted = concat(lit("Cafe\u0301\r\n\u0001 "), col("text"))
      docs.select(col("doc_id"),
        Text.normalizeUnicode(planted).as("text"))
    }),

    // LLM-pipeline: HTML -> visible text (the WET-extraction step
    // between a crawl archive and the text pipeline; native codegen
    // kernel). The planted page exercises script/style raw-text skip,
    // head suppression, quoted '>' attributes, comments, block/inline
    // structure, and entity decode — the oracle rebuilds the expected
    // extraction from the untouched text column
    "text_html_extract" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      val html = concat(
        lit("<html><head><title>T</title>" +
          "<script>var x = \"<p>junk</p>\";</script>" +
          "<style>p > a { color: red }</style></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><div class=\"x>y\"><p>"), col("text"),
        lit("</p><p>&amp; &lt;tail&gt; &#65;&#x42;</p></div>" +
          "<!-- <p>gone</p> --></body></html>"))
      docs.select(col("doc_id"), Text.htmlToText(html).as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: character-entropy quality signal — the gibberish
    // / low-entropy-spam heuristic as a codegen kernel; the oracle
    // replays H = ln n - (sum c*ln c)/n over the sorted distinct
    // characters with list lambdas (identical summation order)
    "text_entropy" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      docs.select(col("doc_id"),
        round(Text.charEntropy(col("text")), 6).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: Gopher line-level quality signals (Rae 2021 —
    // bullet/ellipsis line shares, duplicate-line fractions, alpha
    // word share, symbol ratio). Bullets/dups/ellipses/symbols are
    // planted on a doc_id stride so every signal provably bites.
    "text_gopher" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      val planted = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("• promo line\n• promo line\n- item\n"),
            col("text")))
        .when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit("\nread more...\nread more...\n####")))
        .otherwise(col("text"))
      docs.select(col("doc_id"), Text.gopherSignals(planted).as("g"))
        .select(col("doc_id"),
          col("g.frac_bullet_lines").as("frac_bullet_lines"),
          col("g.frac_ellipsis_lines").as("frac_ellipsis_lines"),
          col("g.dup_line_frac").as("dup_line_frac"),
          col("g.dup_line_char_frac").as("dup_line_char_frac"),
          col("g.frac_alpha_words").as("frac_alpha_words"),
          col("g.symbol_word_ratio").as("symbol_word_ratio"))
    }),

    // LLM-pipeline: per-doc text statistics (punctuation density,
    // mean token length, subword estimate is lookbehind-regex so not
    // SQL-expressible — kept out of the oracle-gated columns)
    "text_stats" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      docs.select(col("doc_id"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(coalesce(Text.avgTokenLength(col("text")), lit(0.0)), 6)
          .as("avg_tok_len"),
        Text.subwordCount(col("text")).cast("bigint").as("subwords"))
    }),

    // LLM-pipeline: INCREMENTAL dedup — a batch deduped against a
    // persisted corpus index (near-copies of corpus docs dropped,
    // token-reversed = genuinely-fresh docs kept), never re-mining the
    // corpus. The oracle is the brute-force batch-vs-corpus jaccard.
    "dedup_incremental" -> ((s, dir) => {
      val e = env(s, dir)
      val corpus = e.view("documents", Seq("doc_id", "text")).read()
      val idxDir = scratchDir("mhidx-" + Integer.toHexString(dir.hashCode))
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", idxDir)
      val near = corpus.filter(col("doc_id") < 5).select(
        (col("doc_id") + 5000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
      val fresh = corpus.filter(col("doc_id") >= 5 && col("doc_id") < 10).select(
        (col("doc_id") + 6000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), "\\s+"))).as("text"))
      Dedup.dedupAgainstIndex(near.unionByName(fresh), "doc_id", "text",
        idxDir, threshold = 0.5).select(col("doc_id"))
    }),

    // LLM-pipeline: SimHash near-dup pairs at maxHamming=3 — inside
    // the 4x16 pigeonhole guarantee, so the output is the EXACT pair
    // set (OpsSpec proves equality with brute force); rows-only check
    // here because xxhash64 is not SQL-expressible
    // LLM-pipeline: SimHash near-dup pairs in the pigeonhole-exact
    // regime. The token hash here is a 60-bit md5 prefix instead of
    // the default xxhash64 SOLELY so DuckDB can recompute the exact
    // signatures — the banding/hamming pipeline under test is
    // identical either way
    "dedup_simhash_pairs" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      // engine-portable token hash: first 60 md5 bits, fused into one
      // codegen kernel — bit-identical to the oracle's
      // conv(substring(md5(t),1,15),16,10) chain (see
      // [[graft.functions.TextKernels.md5Prefix60]])
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        numBits = 60,
        tokenHash = t => graft.functions.TextKernels.md5Prefix60(t))
        .orderBy(col("idA"), col("idB"))
    }),

    // LLM-pipeline: token counting (whitespace)
    "text_tokens" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      docs.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    }),

    // LLM-pipeline: sliding token-window chunking (the
    // chunk-for-embedding step): size-32 windows every 24 tokens
    // (8-token overlap), one row per chunk, exact text equality with
    // the oracle's slice arithmetic
    "text_chunk" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      Text.chunkTokens(docs, "doc_id", "text", size = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_ix").cast("bigint").as("chunk_ix"),
          col("chunk_text"))
    }),

    // LLM-pipeline: model-free hashing-trick embedding — emitted as
    // the non-zero (doc_id, dim, signed count) entries of the
    // UN-normalized vector, so the compare is exact-integer (bucket,
    // sign, and accumulation all gated; normalization is the already-
    // oracled l2Normalize). md5-derived buckets replay in DuckDB.
    "text_hash_embed" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      Text.hashEmbed(docs, "text", dims = 64, outCol = "__e",
          normalize = false)
        .select(col("doc_id"), posexplode(col("__e")).as(Seq("dim", "__w")))
        .filter(col("__w") =!= 0f)
        .select(col("doc_id"), col("dim").cast("int").as("dim"),
          col("__w").cast("int").as("w"))
        .orderBy(col("doc_id"), col("dim"))
    }),

    // LLM-pipeline: semantic benchmark decontamination — a planted
    // "bench" of scaled copies of the first 10 vectors (cosine 1.0
    // with their originals; natural pairwise cosine maxes ~0.45) must
    // knock exactly vec_id 0..9 out through the banded broadcast path.
    "embed_decontaminate" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      val bench = emb.filter(col("vec_id") < 10).select(
        transform(col("embedding"), x => x * lit(1.001f)).as("bv"))
      Similarity.decontaminateSemantic(emb, "embedding", "vec_id",
          bench, "bv", threshold = 0.9, dims = dims)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // Same gate through the exact broadcast nested-loop branch (the
    // guaranteed-recall mode) at a lower threshold
    "embed_decontaminate_exact" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      val bench = emb.filter(col("vec_id") < 10).select(
        transform(col("embedding"), x => x * lit(1.001f)).as("bv"))
      Similarity.decontaminateSemantic(emb, "embedding", "vec_id",
          bench, "bv", threshold = 0.8, dims = dims, exact = true)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // LLM-pipeline: per-stratum top-fraction curation — keep the best
    // quarter of each source by quality score (score desc, id
    // tie-break: deterministic survivors on any cluster)
    "sample_top_fraction" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "source", "text")).read())
      val scored = docs.select(col("doc_id"), col("source"),
        Text.qualityScore(col("text")).as("q"))
      graft.ops.Sample.topFractionPerStratum(scored, Seq("source"), "q",
        "doc_id", 0.25).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: per-stratum cut under planted 90%-one-stratum skew
    // — the boundary-plan scale probe (no per-stratum window task)
    "sample_top_fraction_skew" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val strat = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 9, lit("mega"))
          .otherwise(concat(lit("s"),
            pmod(col("doc_id"), lit(10)).cast("string"))).as("strat"),
        col("n_chars"))
      graft.ops.Sample.topFractionPerStratum(strat, Seq("strat"),
          "n_chars", "doc_id", 0.1)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: CCNet head/middle/tail bucket assignment — every
    // doc labeled 0/1/2 by its score's per-source quartile band
    // (cuts at 25% / 75%), one layout pass for both cuts
    "sample_score_buckets" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(env(s, dir).view("documents",
        Seq("doc_id", "source", "n_chars")).read())
      graft.ops.Sample.scoreBuckets(docs, Seq("source"), "n_chars",
          "doc_id", Seq(0.25, 0.75))
        .select(col("doc_id"), col("bucket")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: the SAMPLED form — head kept fully, middle at
    // half, tail at 1/8 via the idHash membership rule
    "sample_score_buckets_keep" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(env(s, dir).view("documents",
        Seq("doc_id", "source", "n_chars")).read())
      graft.ops.Sample.byScoreBuckets(docs, Seq("source"), "n_chars",
          "doc_id", Seq(0.25, 0.75), Seq(1.0, 0.5, 0.125))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: quality score + language id — rows-only check
    "text_quality" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(env(s, dir).view("documents",
        Seq("doc_id", "text", "lang")).read())
      docs.select(col("doc_id"), Text.qualityScore(col("text")).as("quality"),
        Text.langId(col("text")).as("lang_pred"), col("lang"))
    }),

    // LLM-pipeline: brute-force cosine top-k — rows-only check
    "ann_brute_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0)
        .head().getSeq[Float](1)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", q, 10).select(col("vec_id"))
    }),

    // LLM-pipeline: embedding-cosine near-dup pairs (sign-LSH bucketed,
    // exact cosine verify) — rows-only check. The synthetic embeddings
    // have no true near-dups (max pairwise cosine ~0.45), so plant
    // deterministic scaled copies of the first 20 vectors: cosine 1.0
    // with their originals, found through the production banding.
    "dedup_embedding_pairs" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      Similarity.cosinePairs(emb.unionByName(planted), "embedding", "vec_id",
        threshold = 0.95, dims = dims)
        // 6dp: the driver's compare sorts rows on raw values before
        // rounding; sub-1e-12 cosine noise must not scramble row order
        .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("idA"), col("idB"))
    }),

    // LLM-pipeline: SemDeDup — semantic dedup comparing only WITHIN
    // clusters (n²/k work). The oracle-gated entry clusters by the
    // deterministic `label` column so both engines agree exactly;
    // the k-means path (semanticDedupAuto) is spec- and bench-
    // covered. Planted scaled copies share their original's label
    // and must vanish; originals survive (natural same-label cosine
    // maxes ~0.47, far under the 0.95 threshold).
    "dedup_semantic" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding", "label")).read()
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
      Similarity.semanticDedup(emb.unionByName(planted), "embedding",
        "vec_id", "label", threshold = 0.95, maxCluster = 100000)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // LLM-pipeline: embedding near-dedup applied — planted scaled
    // copies must vanish, originals survive
    "dedup_embedding_apply" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      val planted = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      Similarity.cosineDedup(emb.unionByName(planted), "embedding", "vec_id",
        threshold = 0.95, dims = dims).select(col("vec_id"))
    }),

    // LLM-pipeline: vector CROSS-CORPUS incremental dedup — the
    // embedding twin of dedup_incremental: a persisted LSH vector
    // index is built once, then a batch (5 scaled near-copies + 5
    // reversed fresh vectors) is deduped against it reading only the
    // probed band partitions. Oracle: brute-force batch-vs-corpus
    // cosine (reversed vectors max out near 0.4 on this corpus, so
    // the 0.95 decision has a wide margin in both engines).
    "dedup_embedding_incremental" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      val idxDir = scratchDir("vecidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIndex(emb, "embedding", "vec_id", idxDir, dims = dims,
        buckets = 64)
      val near = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val fresh = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10).select(
        (col("vec_id") + 6000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.dedupAgainstIndex(near.unionByName(fresh), "embedding",
        "vec_id", idxDir, threshold = 0.95)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // LLM-pipeline: CROSS-CORPUS SemDeDup — the corpus's k-means
    // clustering persists as an index (members partitioned by cluster,
    // centroids in the meta), and a new batch dedupes against it
    // reading only its assigned cluster partitions. Oracle: brute-force
    // batch-vs-corpus cosine (identical-direction near-copies always
    // share their original's cluster, so the within-cluster bound
    // loses nothing on them; reversed vectors max out near 0.4).
    "dedup_semantic_incremental" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val idxDir = scratchDir("semidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildSemanticIndex(emb, "embedding", "vec_id", idxDir, k = 16)
      val near = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val fresh = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10).select(
        (col("vec_id") + 6000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.semanticDedupAgainstIndex(near.unionByName(fresh),
        "embedding", "vec_id", idxDir, threshold = 0.95)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // LLM-pipeline: embedding pipeline END-TO-END — normalize →
    // int8 quantize → dequantize (the storage round-trip) → persisted
    // index build → batch dedup-against-index, proving the ops
    // compose (each is also oracle-verified alone). The oracle
    // replicates the exact double arithmetic of every stage.
    // LLM-pipeline: the FUSED text-curation pipeline (ops/Pipeline) —
    // fingerprint exact dedup → minhash near-dedup → quality floor →
    // deterministic hash downsample, executed stage-by-stage with
    // scratch-dir spill between stages (each stage runs over the
    // previous stage's materialized survivors, per-stage audit
    // counts). Oracle composes the already-verified per-stage SQL in
    // one CTE chain.
    "pipeline_full" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val scratch = scratchDir("pipe-" + Integer.toHexString(dir.hashCode))
      val stages = graft.ops.Pipeline.curateDocuments(
        minQuality = 0.5, sampleFraction = 0.5)
      graft.ops.Pipeline.run(docs, stages, scratch)._1
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    "embed_pipeline" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val dims = emb.head().getSeq[Float](1).size
      // one projection per stage so each intermediate is evaluated
      // once as an attribute (the per-element O(d²) hazard itself is
      // fixed by Hof.bind inside the Similarity columns)
      def stored(df: DataFrame) = df
        .select(col("vec_id"),
          Similarity.l2Normalize(col("embedding")).as("embedding"))
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("qv"))
        .select(col("vec_id"),
          Similarity.dequantizeInt8(col("qv")).as("embedding"))
      val idxDir = scratchDir("pipeidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIndex(stored(emb), "embedding", "vec_id", idxDir,
        dims = dims, buckets = 64)
      val near = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 5000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val fresh = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10).select(
        (col("vec_id") + 6000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      Similarity.dedupAgainstIndex(stored(near.unionByName(fresh)),
        "embedding", "vec_id", idxDir, threshold = 0.95)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // LLM-pipeline: corpus vocabulary with document frequencies
    "text_vocab" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Text.documentFrequencies(docs, "text")
    }),

    // LLM-pipeline: multimodal decode plumbing (deterministic stub
    // codec over document bytes) — rows-only check
    // LLM-pipeline: REAL image decode (javax.imageio, JDK only) over
    // synthesized uniform-gray PNGs whose decoded stats are pure
    // arithmetic of n_chars — the DuckDB oracle reproduces them with
    // no image support. (The mixed-modality fallback path is covered
    // by OpsSpec.)
    "multimodal_decode" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val png = udf((n: Long) => graft.ops.Multimodal.synthPng(
        (16 + (n % 64)).toInt, (16 + ((n / 7) % 48)).toInt))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(png(col("n_chars")),
          "image/png", concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.decode(media, "media")
        .select(col("doc_id"), col("decoded.width"), col("decoded.height"),
          col("decoded.channels"), round(col("decoded.mean_luma"), 6).as("mean_luma"),
          col("decoded.sharpness"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: REAL audio decode (javax.sound WAV codec, JDK
    // only) over synthesized 16-bit PCM payloads whose stats are pure
    // integer arithmetic — so the DuckDB oracle reproduces frames,
    // duration and RMS bit-exactly without any audio support
    "multimodal_audio" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val wav = udf((n: Long) =>
        graft.ops.Multimodal.synthPcmWav((256 + (n % 1024)).toInt))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(wav(col("n_chars")), "audio/wav",
          concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.audioFeatures(media, "media")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.duration_ms"), 3).as("duration_ms"),
          round(col("audio.rms"), 6).as("rms"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: MPEG-audio (Layer III) header-walk probe — pure
    // JVM, no codec: frame count x 36 ms (1152 samples at 32 kHz,
    // 64 kbps CBR = 288-byte frames) is exact integer arithmetic the
    // oracle replays; odd doc ids carry a Xing tag so the VBR
    // stored-count path probes the same answer as the walk
    "multimodal_audio_mp3" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val mp3 = udf((id: Long, n: Long) => graft.ops.Multimodal.synthMp3(
        (4 + (n % 32)).toInt, xing = id % 2 == 1))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(mp3(col("doc_id"), col("n_chars")),
          "audio/mpeg", concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.audioFeatures(media, "media")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.duration_ms"), 3).as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: ADTS AAC header-walk probe — pure JVM, no codec:
    // frames x 1024 samples at 16 kHz = frames x 64 ms, exact integer
    // arithmetic the oracle replays; odd doc ids use the CRC-protected
    // 9-byte header variant so both header sizes walk the same answer
    "multimodal_audio_aac" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val aac = udf((id: Long, n: Long) => graft.ops.Multimodal.synthAdts(
        (3 + (n % 24)).toInt, crc = id % 2 == 1))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(aac(col("doc_id"), col("n_chars")),
          "audio/aac", concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.audioFeatures(media, "media")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.duration_ms"), 3).as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: M4A container audio facts — the sound trak's mdhd
    // (timescale = rate, duration in samples) + the mp4a sample
    // entry's channelcount, pure box walk, duration = samples/16 ms
    // at 16 kHz (binary-exact)
    "multimodal_audio_m4a" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val m4a = udf((n: Long) =>
        graft.ops.Multimodal.synthM4a(1000L + (n % 8000)))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(m4a(col("n_chars")), "audio/mp4",
          concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.audioFeatures(media, "media")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.duration_ms"), 3).as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: FLAC STREAMINFO probe — rate/channels/total
    // samples from the mandatory first metadata block, duration =
    // samples/16 ms at 16 kHz (binary-exact)
    "multimodal_audio_flac" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val flac = udf((n: Long) =>
        graft.ops.Multimodal.synthFlac(1000L + (n % 9000)))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(flac(col("n_chars")), "audio/flac",
          concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.audioFeatures(media, "media")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.duration_ms"), 3).as("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: MPEG-TS bitstream dims — an H.264 SPS (ids ≡ 0
    // mod 4; the cropping window encodes non-multiple-of-16 sizes),
    // an MPEG-2 sequence header (ids ≡ 1; packed 12-bit dims), an
    // H.265 SPS (ids ≡ 2; conformance-window crop), or an MPEG-4
    // Part 2 VOL header (ids ≡ 3; 13-bit dims between markers) parsed
    // from the video PES the PMT names, duration from the PCR span —
    // all pure arithmetic of n_chars the oracle replays
    "multimodal_video_ts" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      val ts = udf((id: Long, n: Long) => graft.ops.Multimodal.synthTs(
        (1000 + (n % 9000)).toInt,
        (id % 4) match {
          case 0 => "h264"
          case 1 => "mpeg2video"
          case 2 => "hevc"
          case _ => "mpeg4video"
        },
        (320 + (n % 160) * 2).toInt,
        (240 + ((n / 7) % 120) * 2).toInt))
      val media = docs.select(col("doc_id"),
        graft.ops.Multimodal.asMedia(ts(col("doc_id"), col("n_chars")),
          "video/mp2t", concat(lit("doc://"), col("doc_id"))).as("media"))
      graft.ops.Multimodal.videoFeatures(media, "media")
        .filter(col("video.probed")) // a parse regression empties rows
        .select(col("doc_id"),
          col("video.codec").as("codec"),
          col("video.width").as("width"),
          col("video.height").as("height"),
          round(col("video.duration_ms"), 3).as("duration_ms"),
          col("video.n_streams").as("n_streams"))
        .orderBy(col("doc_id"))
    }),

    // AS-OF join: per user, the latest click value at-or-before each
    // error event — the point-in-time lookup via union + ordered
    // window (one key shuffle, no range-join explosion); oracle is
    // DuckDB's native ASOF LEFT JOIN
    "q34_asof_join" -> ((s, dir) => {
      val ev = env(s, dir)
        .view("events", Seq("event_id", "ts", "user_id", "event_type", "value"))
        .read()
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
      graft.ops.AsOf.asofJoin(errors, clicks, Seq("user_id"), "ts", "ts",
        Seq("click_value"))
        .select(col("event_id"), col("user_id"), col("click_value"))
        .orderBy(col("event_id"))
    }),

    // RANGE join: click events inside each user's 10-minute error
    // "incident window" — binned equi-join + exact interval filter
    // (never a per-key cross product); oracle is the plain BETWEEN join
    "q35_range_join" -> ((s, dir) => {
      val ev = env(s, dir)
        .view("events", Seq("event_id", "ts", "user_id", "event_type"))
        .read()
      val incidents = ev.filter(col("event_type") === "error").select(
        col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"),
        col("event_id").as("incident_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.AsOf.rangeJoin(clicks, incidents, Seq("user_id"), "ts",
        "w_start", "w_end", binMs = 600000L)
        .select(col("event_id"), col("incident_id"))
        .orderBy(col("event_id"), col("incident_id"))
    }),

    // LLM-pipeline: corpus profiling — per-column completeness,
    // exact cardinality and native-ordered value range in two
    // scale-safe passes (wide agg + melt two-stage distinct; never
    // Spark's multi-countDistinct Expand replication)
    // `text` rides along to prove profiling a document-payload column
    // is payload-free: the distinct pass shuffles 64-bit hashes, never
    // the documents themselves
    "profile_columns" -> ((s, dir) =>
      graft.ops.Profile.columns(
        env(s, dir).view("documents",
          Seq("doc_id", "lang", "source", "n_chars", "text")).read(),
        Seq("lang", "source", "n_chars", "text"))
        .orderBy(col("column"))),

    // LLM-pipeline: fixed-width histogram (doc length distribution —
    // the training-data QA staple); outliers clamp into edge bins
    "profile_histogram" -> ((s, dir) =>
      graft.ops.Profile.histogram(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read(),
        "n_chars", lo = 0.0, hi = 2000.0, bins = 20)
        .orderBy(col("bin"))),

    // LLM-pipeline: exact top-k frequent values, deterministic ties
    "profile_topk" -> ((s, dir) =>
      graft.ops.Profile.topValues(
        env(s, dir).view("documents", Seq("doc_id", "source")).read(),
        "source", k = 5)),

    // LLM-pipeline: exact quantiles (R-7 linear interpolation — the
    // same definition DuckDB's quantile_cont uses), the percentile
    // block of a data card; approx_percentile is the documented
    // 100-TB swap-in
    "profile_quantiles" -> ((s, dir) =>
      graft.ops.Profile.quantiles(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read(),
        "n_chars", Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))),

    // LLM-pipeline: per-GROUP data cards — the per-source rows of a
    // corpus datasheet (counts, nulls, exact distincts, native-ordered
    // min/max per column, keyed by source)
    "profile_by_group" -> ((s, dir) => {
      val docs = env(s, dir)
        .view("documents", Seq("doc_id", "lang", "source", "n_chars")).read()
      graft.ops.Profile.columnsBy(docs, Seq("lang", "n_chars"), "source")
        .orderBy(col("group"), col("column"))
    }),

    // LLM-pipeline: per-column profile drift between two corpus
    // versions (doc_id parity halves): before/after counts + deltas —
    // the data-card diff printed next to the PSI score
    "profile_compare" -> ((s, dir) => {
      val docs = env(s, dir)
        .view("documents", Seq("doc_id", "lang", "source", "n_chars")).read()
      graft.ops.Profile.compare(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        Seq("lang", "source", "n_chars")).orderBy(col("column"))
    }),

    // LLM-pipeline: PSI distribution-shift gate between two corpus
    // versions (here: the doc_id parity halves) over the shared
    // 20-bin n_chars histogram — smoothing, clamping and the Σ(p−q)·
    // ln(p/q) fold replicated exactly in the oracle
    "profile_psi" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "n_chars")).read()
      graft.ops.Profile.psi(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "n_chars", lo = 0, hi = 2000, bins = 20)
    }),

    // S6'/BRIN: use-index brin round-trip — events archived into a
    // range-clustered zoned table (manifest zone maps), read back with
    // key bounds that prune zone directories driver-side; the filter
    // still applies in full, so the result is exact
    "q36_brin_range" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val evs = e.view("events", Seq("event_id", "ts", "event_type", "value"))
        .read()
      e.view("event_archive", Seq("event_id", "ts", "event_type", "value"))
        .write(evs)
      e.view("event_archive", Seq("event_id", "event_type", "value"))
        .read(Seq("(and (>= event_id 100) (<= event_id 400))"))
    }),

    // S1 extension: READ-SIDE BUCKET PRUNING — an IN-list pinning the
    // full key of a bucketed table hashes to its bucket ids
    // driver-side (Warehouse.read, the same Catalyst bucketExpr
    // the writer clusters with) and the read opens only those bucket
    // dirs; rows must match the oracle's plain scan exactly (pruning
    // is IO elision — BucketSpec proves the file counts).
    "q39_bucket_point" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val docs = e.view("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")).read()
      val v = e.view("compact_scratch",
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      v.write(docs)
      e.view("compact_scratch", Seq("doc_id", "n_chars"))
        .read(Seq("(in doc_id 7 77 177 377)"))
    }),

    // S2: cross-write transaction — two tables commit together
    // (all-or-nothing pointer swaps behind a journal) and a failed
    // second txn leaves no trace; the result reads the committed
    // state of BOTH tables
    "q37_txn_roundtrip" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      e.transaction {
        val totals = e.viewNamed("nation", Seq(
          "name" -> "n_name", "total" -> "(cast n_regionkey (float))",
          "regionkey" -> "n_regionkey")).read()
        e.view("nation_total", Seq("name", "total", "regionkey")).write(totals)
        val batch = e.view("customer", Seq("c_name"))
          .read(Seq("(< c_custkey 21)"))
          .select(col("c_name").as("custkey.c_name"), lit("txn").as("note"))
        e.view("cust_note", Seq("custkey.c_name", "note")).write(batch)
      }
      try e.transaction {
        e.view("nation_total", Seq("name", "total"))
          .write(Seq(Seq("GHOST", 9.9)))
        throw new RuntimeException("rollback")
      } catch { case e: RuntimeException if e.getMessage == "rollback" => () }
      val notes = e.view("cust_note", Seq("note")).read()
        .filter(col("note") === "txn").count()
      e.view("nation_total", Seq("name", "total", "regionkey")).read()
        .withColumn("notes", lit(notes))
    }),

    // LLM-pipeline: embedding L2 normalization — HOF Column math, no
    // UDF; oracle recomputes norm and first normalized component in
    // double arithmetic
    "embed_normalize" -> ((s, dir) => {
      val emb = graft.ops.Par.spread(
        env(s, dir).view("embeddings", Seq("vec_id", "embedding")).read())
      emb.select(col("vec_id"),
        round(Similarity.norm(col("embedding").cast("array<double>")), 6)
          .as("norm"),
        round(element_at(Similarity.l2Normalize(col("embedding")), 1), 6)
          .as("c0"))
        .orderBy(col("vec_id"))
    }),

    // LLM-pipeline: symmetric int8 quantization + dequantized error —
    // the 4x embedding shrink for billion-vector pipelines; all double
    // arithmetic so the quantized values are engine-exact
    // LLM-pipeline: PCA dimension reduction before an ANN build —
    // basis from ONE distributed covariance pass (map-side outer
    // products, a d² reduce) + driver eigen of the d×d matrix;
    // the projection rides as literal arrays through the codegen dot
    // kernel, a narrow per-row stage. Eigendecomposition itself is not
    // SQL-expressible, so the oracle checks the rotation INVARIANT:
    // at k = d the basis is a pure rotation, so ‖project(x)‖ equals
    // the centered norm ‖x − μ‖, which DuckDB replays exactly from
    // per-dimension means. The k<d properties (orthonormal sign-fixed
    // basis, descending variance, isometry) stay pinned in OpsSpec.
    "embed_pca" -> ((s, dir) => {
      val emb = graft.ops.Par.spread(
        env(s, dir).view("embeddings", Seq("vec_id", "embedding")).read())
      val d = emb.select(size(col("embedding"))).head().getInt(0)
      val basis = Similarity.pcaBasis(emb, "embedding", d)
      emb.select(col("vec_id"),
        Similarity.pcaProject(col("embedding"), basis).as("reduced"))
        .select(col("vec_id"),
          round(Similarity.norm(col("reduced")), 6).as("pnorm"))
        .orderBy(col("vec_id"))
    }),

    "embed_quantize" -> ((s, dir) => {
      val emb = graft.ops.Par.spread(
        env(s, dir).view("embeddings", Seq("vec_id", "embedding")).read())
      val qv = emb.select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding")).as("qv"))
      qv.select(col("vec_id"),
        round(col("qv.scale"), 9).as("scale"),
        aggregate(col("qv.q"), lit(0L), (a, x) => a + x.cast("long"))
          .as("q_sum"),
        array_min(col("qv.q")).cast("int").as("q_min"),
        array_max(col("qv.q")).cast("int").as("q_max"),
        round(aggregate(zip_with(
            Similarity.dequantizeInt8(col("qv")),
            col("embedding").cast("array<double>"),
            (d, o) => abs(d - o)), lit(0.0), (a, x) => greatest(a, x)), 6)
          .as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // LLM-pipeline: LSH-bucketed ANN top-k — rows-only check. Sign-LSH
    // recalls genuinely-near vectors; the synthetic embeddings' best
    // pair is only cos~0.45 (noise for banding), so plant scaled
    // copies of the query (cos 1.0) that the production banding +
    // multi-probe must surface in the top-k.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      Similarity.annTopK(
        emb.filter(col("vec_id") =!= 0).unionByName(planted),
        "embedding", "vec_id", q, 10, dims = q.size).select(col("vec_id"))
    }),

    // LLM-pipeline: IVF ANN — the k-means coarse-quantizer scale path
    // (complement to sign-LSH): build once, probe nprobe centroid
    // partitions. Planted copies of the query share its nearest
    // centroid, so the brute-force oracle's top-k must be recalled.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
      val idxDir = scratchDir("ivfidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", idxDir, dims = q.size)
      Similarity.ivfTopK(s, idxDir, "embedding", "vec_id", q, 10)
        .select(col("vec_id"))
    }),

    // LLM-pipeline: QUANTIZED persisted IVF — the index stores int8
    // (scale + tinyints, ~4× less probe IO than float32) and scoring
    // dequantizes on read (asymmetric: full-precision query). The
    // oracle replays the exact quantize→dequantize arithmetic in SQL,
    // so the top-k order over quantized cosines must match bit-wise.
    "ann_quantized_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
      val idxDir = scratchDir("qivfidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIvfIndex(pool, "embedding", "vec_id", idxDir,
        dims = q.size, quantized = true)
      Similarity.ivfTopK(s, idxDir, "embedding", "vec_id", q, 10)
        .select(col("vec_id"))
    }),

    // LLM-pipeline: IVF-PQ persisted index (Jégou et al. 2011) — each
    // 64-dim float32 vector stores as m=8 one-byte residual codes
    // (32× memory reduction, the in-RAM index story at 100 TB);
    // queries read only the probed coarse cells and score by
    // driver-precomputed ADC tables folded into the plan as literals.
    // Planted exact-direction copies of the query must head the
    // approximate ranking, matching the brute-force cosine oracle.
    "ann_pq_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
      val idxDir = scratchDir("pqidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIvfPqIndex(pool, "embedding", "vec_id", idxDir,
        dims = q.size, nlist = 16, m = 8)
      Similarity.ivfPqTopK(s, idxDir, "vec_id", q, 10, nprobe = 4)
        .select(col("vec_id"))
    }),

    // LLM-pipeline: IVF-PQ incremental append — the planted copies
    // enter through appendToIndex (assignment via STORED centroids,
    // residual encoding via STORED codebooks, no rebuild) and must
    // dominate the ADC ranking exactly like build-encoded rows do.
    // Same brute-force oracle as ann_pq_topk.
    "ann_pq_append" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val idxDir = scratchDir("pqappidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", idxDir, dims = q.size, nlist = 16, m = 8)
      Similarity.appendToIndex(planted, "embedding", "vec_id", idxDir,
        retrainAt = Double.MaxValue)
      Similarity.ivfPqTopK(s, idxDir, "vec_id", q, 10, nprobe = 4)
        .select(col("vec_id"))
    }),

    // LLM-pipeline: two-stage ANN serving — PQ index prunes to kCoarse
    // candidates by ADC, exact cosine re-ranks them from the index's
    // columnar __v vectors (probes never read __v; only the surviving
    // candidates materialize floats). Exact top-k = brute-force oracle.
    "ann_pq_rerank" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
      val idxDir = scratchDir("pqrridx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIvfPqIndex(pool, "embedding", "vec_id", idxDir,
        dims = q.size, nlist = 16, m = 8)
      Similarity.ivfPqRerank(s, idxDir, "embedding", "vec_id", q, 10,
        kCoarse = 50, nprobe = 4).select(col("vec_id"))
    }),

    // LLM-pipeline: persisted-index ANN — the 100-TB repeated-query
    // path: buildIndex writes a band-partitioned signature+vector
    // table once, the probe reads only probed partition dirs (no
    // full scan, no re-signing). Same pool/planting as ann_lsh_topk,
    // so the result set matches it. Rows-only check.
    "ann_indexed_topk" -> ((s, dir) => {
      val e = env(s, dir)
      val emb = e.view("embeddings", Seq("vec_id", "embedding")).read()
      val q = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        typedLit(q.map(_ * 1.001f)).as("embedding"))
      val pool = emb.filter(col("vec_id") =!= 0).unionByName(planted)
      val idxDir = scratchDir("annidx-" + Integer.toHexString(dir.hashCode))
      Similarity.buildIndex(pool, "embedding", "vec_id", idxDir, dims = q.size,
        buckets = 64)
      Similarity.annTopKIndexed(s, idxDir, "embedding", "vec_id", q, 10)
        .select(col("vec_id"))
    }),

    // LLM-pipeline: connected components over mined near-dup pairs —
    // transitive closure (A~B~C is ONE cluster even when the A-C pair
    // itself falls under the threshold); oracle is a DuckDB recursive
    // CTE over the brute-force pair set
    "dedup_clusters" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.2)
      graft.ops.Cluster.components(pairs).orderBy(col("id"))
    }),

    // LLM-pipeline: cluster-aware dedup — keep one representative per
    // component plus every unpaired doc
    "dedup_cluster_apply" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.2)
      graft.ops.Cluster.dedupByComponents(docs, pairs, "doc_id")
        .select(col("doc_id"))
    }),

    // LLM-pipeline: deterministic hash sampling — membership depends
    // only on the id (no RNG state, no shuffle), so samples are
    // reproducible on any cluster size and splits are disjoint bands
    "sample_hash" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id")).read()
      graft.ops.Sample.byHash(docs, "doc_id", 0.25).select(col("doc_id"))
    }),

    // LLM-pipeline: deterministic corpus shuffle — a stateless
    // pseudo-random permutation (shard by one hash, within-shard
    // position by an independent one); the "global shuffle before
    // training" step with zero Spark shuffle until the writer's
    // partitionBy
    "sample_shuffle" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id")).read()
      graft.ops.Sample.shuffleShards(docs, "doc_id", 16)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // LLM-pipeline: leakage-free split — band of the GROUP key's hash
    // space, so all docs of a source land on the same side (the
    // train/test separation that stops near-dup leakage across splits)
    "sample_group_split" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "source")).read()
      graft.ops.Sample.splitByGroup(docs, "source", 0.0, 0.5)
        .select(col("doc_id"), col("source"))
    }),

    // LLM-pipeline: LEAKAGE-SAFE split — near-duplicate clusters move
    // as one unit (group key = connected-component root of the mined
    // pair graph), so no near-dup pair ever straddles train/val
    "sample_leakage_split" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.2)
      graft.ops.Sample.splitByComponents(docs, pairs, "doc_id", 0.0, 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: temperature-flattened language sampling (the
    // mT5/XLM-R rebalancing rule p_s ∝ n_s^alpha) — half the corpus,
    // low-resource languages over-represented relative to natural
    // frequency; rates are closed-form over the count table so the
    // oracle reproduces the exact row set through the idHash rule
    "sample_temperature" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "lang")).read()
      graft.ops.Sample.temperatureSample(docs, "doc_id", "lang",
          alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: per-source cap (stratified head) — the mixing
    // recipe's per-domain budget
    "sample_stratified" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "source")).read()
      graft.ops.Sample.capPerStratum(docs, Seq("source"), Seq("doc_id"), 10)
        .select(col("doc_id"), col("source"))
    }),

    // LLM-pipeline: token-budget shard packing — contiguous ~1000-token
    // shards via the two-phase prefix sum (no single-partition window)
    "sample_pack" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val toks = docs.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      graft.ops.Sample.packByBudget(toks, "doc_id", "n_tokens", 1000L)
    }),

    // LLM-pipeline: curriculum sharding — global (n_chars, id) rank
    // via the narrow-layout machinery, shard = rank % 8, position =
    // rank / 8: every shard spans the difficulty spectrum and reads
    // easy-to-hard in position order
    "sample_curriculum" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "n_chars")).read())
      graft.ops.Sample.curriculumShards(docs, "n_chars", "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("position"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: corpus mixture sampling — greedy per-source token
    // budget fill in md5(id) order (engine-independent, so the oracle
    // reproduces the exact document set); the per-source running sums
    // ride the packByBudget two-phase prefix machinery, no per-source
    // single-reducer window
    // LLM-pipeline: deterministic UP-sampling — the mixing factors > 1
    // case (epochs over low-resource sources): src0/src1 get whole +
    // fractional repeats, src2 drops, everything else keeps one copy;
    // the idHash rule resolves fractional parts so DuckDB replays the
    // exact copy counts.
    "sample_upsample" -> ((s, dir) => {
      val docs = env(s, dir)
        .view("documents", Seq("doc_id", "source")).read()
      graft.ops.Sample.upsample(docs, "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.0))
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    "sample_mixture" -> ((s, dir) => {
      val docs = env(s, dir)
        .view("documents", Seq("doc_id", "text", "source")).read()
      val w = docs.select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      val budgets = (0 until 20)
        .map(i => s"src$i" -> (if (i < 3) 2000L else 500L)).toMap
      graft.ops.Sample.mixture(w, "doc_id", "n_tokens", "source", budgets)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: sequence packing — each ~1000-token shard's docs
    // concatenated (id order) into one training-sequence row. A
    // planted 3.5x-budget doc (id -1, sorts first) exercises the
    // long-doc split path: it enters as four budget-boundary pieces,
    // so no sequence exceeds budget + one piece.
    "sample_sequences" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val planted = s.range(1).select(lit(-1L).as("doc_id"),
        trim(repeat(lit("w "), 3500)).as("text"))
      val toks = docs.unionByName(planted).select(col("doc_id"), col("text"),
        Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      graft.ops.Sample.packSequences(toks, "doc_id", "text", "n_tokens", 1000L)
        .orderBy(col("seq_id"))
    }),

    // LLM-pipeline: JSONL interchange round-trip — export the corpus
    // as gzipped JSONL shards + schema sidecar, import it back with
    // ZERO inference (the sidecar supplies the schema, so the read is
    // one pass like parquet); the oracle is the untouched source
    // table, so every byte of text must survive the trip
    "corpus_jsonl_roundtrip" -> ((s, dir) => {
      val docs = env(s, dir).view("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")).read()
      val out = scratchDir("corpus_jsonl")
      graft.sources.Corpus.exportJsonl(docs, out, shards = 8)
      graft.sources.Corpus.importJsonl(s, out).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: WARC crawl-archive round-trip — the corpus
    // exported as gzipped WARC response records (one gzip member per
    // record, warcinfo header, the Common Crawl layout) and read back
    // through the streaming record walk; the oracle is the untouched
    // source table, so framing + HTTP split + per-member gzip must be
    // byte-exact
    "corpus_warc_roundtrip" -> ((s, dir) => {
      val docs = env(s, dir).view("documents",
        Seq("doc_id", "text", "source")).read()
      val out = scratchDir("corpus_warc")
      graft.sources.Warc.write(
        docs.select(concat(lit("http://"), col("source"), lit("/doc/"),
          col("doc_id")).as("url"), encode(col("text"), "UTF-8").as("p")),
        out, "url", "p", shards = 8)
      graft.sources.Warc.read(s, out)
        .select(col("target_uri"),
          graft.functions.TextKernels.decodeText(col("payload"),
            col("http_content_type")).as("text"),
          col("http_status"), col("http_content_type"))
        .orderBy(col("target_uri"))
    }),

    // LLM-pipeline: CSV interchange round-trip on the events table —
    // microsecond timestamps, doubles, and a JSON-bearing string
    // column survive exactly (pinned timestampFormat, shortest-repr
    // doubles, standard quoting); sidecar restores the real types
    "corpus_csv_roundtrip" -> ((s, dir) => {
      val ev = env(s, dir).view("events",
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")).read()
      val out = scratchDir("corpus_csv")
      graft.sources.Corpus.exportCsv(ev, out, shards = 4)
      graft.sources.Corpus.importCsv(s, out).orderBy(col("event_id"))
    }),

    // LLM-pipeline: corpus snapshot diff — the release-QA audit
    // between two versions of the documents table (planted: docs 0-4
    // removed, 5-9 edited, five new ids added); both sides reduce to
    // (key, payload-hash) longs before the full-outer join
    "corpus_diff" -> ((s, dir) => {
      val docs = env(s, dir).view("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")).read()
      val after = docs.filter(col("doc_id") >= 5)
        .withColumn("text", when(col("doc_id") < 10,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") < 5).select(
          (col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
      graft.ops.Diff.diff(docs, after, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: PII triage + redaction (emails / IPv4 / phones) —
    // plant deterministic PII on every 7th doc so the patterns have
    // real positives; RE2-safe regexes run identically in the oracle
    "text_pii" -> ((s, dir) => {
      val docs = graft.ops.Par.spread(
        env(s, dir).view("documents", Seq("doc_id", "text")).read())
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" contact bob.smith+spam@example.org" +
            " or 10.0.0.1 call +1 555 867-5309"))).otherwise(col("text"))
          .as("t"))
      planted.withColumn("__pii", Text.piiCounts(col("t")))
        .select(col("doc_id"),
          col("__pii.emails").cast("bigint").as("emails"),
          col("__pii.ips").cast("bigint").as("ips"),
          col("__pii.phones").cast("bigint").as("phones"),
          Text.redactPii(col("t")).as("redacted"))
    }),

    // LLM-pipeline: corpus TF-IDF (smoothed idf) — tf from one explode
    // + map-side-combined count, df from the tf frame, N broadcast
    "text_tfidf" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Text.tfidf(docs, "doc_id", "text")
        .orderBy(col("doc_id"), col("token"))
    }),

    // LLM-pipeline: Okapi BM25 (k1=1.2, b=0.75) — corpus keyword
    // ranking; doc lengths and corpus constants derived from the tf
    // frame, one corpus scan total
    "text_bm25" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Text.bm25(docs, "doc_id", "text")
        .orderBy(col("doc_id"), col("token"))
    }),

    // LLM-pipeline: benchmark decontamination — docs sharing any word
    // 8-gram with the "eval set" (docs 0-9 standing in for one), with
    // the benchmark gram set broadcast so the corpus never shuffles
    "text_decontaminate" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val bench = docs.filter(col("doc_id") < 10).select(col("text"))
      Text.decontaminate(docs, "doc_id", "text", bench, "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: the SAME decontamination through the bloom-
    // prefilter + exact-verify-join path (sized for benchmark /
    // blocklist sides too big to broadcast as an exact gram set) —
    // result is exact, so it shares text_decontaminate's oracle
    "text_decontaminate_bloom" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val bench = docs.filter(col("doc_id") < 10).select(col("text"))
      Text.decontaminateBloom(docs, "doc_id", "text", bench, "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: SPAN-LEVEL decontamination — contaminated n-grams
    // surgically removed instead of dropping whole documents (docs
    // 0-9 double as the "eval set", so they trim to empty; longer
    // docs quoting them lose only the quoted spans)
    "text_decontaminate_trim" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val bench = docs.filter(col("doc_id") < 10).select(col("text"))
      Text.decontaminateTrim(docs, "doc_id", "text", bench, "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: URL canonicalization for crawl-level dedup —
    // tracking params dropped, params sorted, case/port/www/fragment
    // scrubbed; URLs synthesized deterministically from (source,
    // doc_id) in three variants so the oracle can state the expected
    // canonical form in closed form (variants 0 and 1 collapse)
    "text_url_normalize" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "source")).read()
      val grp = ((col("doc_id") - col("doc_id") % 3) / 3).cast("long").cast("string")
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source")), lit(".com:443/p/"),
            grp, lit("/?utm_source=x&b=2&a=1#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://"), col("source"), lit(".com/p/"), grp,
            lit("?a=1&b=2&gclid=z")))
        .otherwise(concat(col("source"), lit(".com/p/"), grp)) // scheme-less
      docs.select(col("doc_id"), raw.as("url_raw"),
          Text.normalizeUrl(raw).as("url_norm"))
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: domain-blocklist filter — synthesized URLs (even
    // docs live on a subdomain of <source>.com, odd docs on
    // <source>.org) against a blocklist of the even-length sources'
    // .com domains; the subdomain-suffix match must drop exactly the
    // even docs of blocked sources
    "text_domain_filter" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "source")).read()
      val url = when(col("doc_id") % 2 === 0,
          concat(lit("https://sub."), col("source"), lit(".com/p/"),
            col("doc_id")))
        .otherwise(concat(lit("https://"), col("source"), lit(".org/x")))
      val bl = docs.select(col("source")).distinct()
        .filter(length(col("source")) % 2 === 0)
        .select(concat(col("source"), lit(".com")).as("domain"))
      Text.filterDomains(docs.withColumn("url", url), "url", "doc_id",
          bl, "domain")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // LLM-pipeline: Gopher-style repetition statistics — fraction of
    // content captured by the modal unigram/bigram/trigram per doc
    "text_repetition" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      Text.repetition(docs, "doc_id", "text").orderBy(col("doc_id"))
    }),

    // LLM-pipeline: unigram LM quality scoring — every doc scored by
    // mean token log-prob under an add-one-smoothed model trained on
    // docs 0-99 (the "trusted reference corpus" stand-in); the model
    // is joined (not broadcast) so its size is unbounded
    "text_lm_score" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val ref = docs.filter(col("doc_id") < 100).select(col("text"))
      Text.lmScore(docs, "doc_id", "text", ref, "text")
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: linear quality classifier (the CCNet/fastText
    // wiki-vs-crawl filter shape) — NB log-odds token weights trained
    // on two labeled source slices, every doc scored by mean token
    // weight; the model is a joined table, never a fitted estimator
    "text_classifier" -> ((s, dir) => {
      val docs = env(s, dir).view("documents",
        Seq("doc_id", "text", "source")).read()
      val pos = docs.filter(col("source").isin("src0", "src1", "src2"))
      val neg = docs.filter(col("source").isin("src3", "src4", "src5"))
      val w = Text.classifierWeights(pos, "text", neg, "text")
      Text.classifierScore(docs, "doc_id", "text", w)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: exact substring-dedup signal (Lee et al.) — the
    // fraction of each doc covered by a word 8-gram that also occurs
    // in ANOTHER doc; a shared boilerplate footer is planted on every
    // 7th doc so cross-doc duplicated spans certainly exist
    "dedup_spans" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" this shared boilerplate footer" +
            " sentence repeats across many documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.duplicateSpans(planted, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // LLM-pipeline: duplicate-span REMOVAL — same planted corpus, but
    // the signal is applied: every doc is rewritten with spans owned
    // by a lower-id doc trimmed out (keep-one semantics); all 500 rows
    // come back, untouched docs verbatim
    "dedup_spans_apply" -> ((s, dir) => {
      val docs = env(s, dir).view("documents", Seq("doc_id", "text")).read()
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" this shared boilerplate footer" +
            " sentence repeats across many documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.trimDuplicateSpans(planted, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // S1/W5 maintenance: small-file compaction — three partial merges
    // leave the bucketed manifest pointing into three snapshots;
    // compact() collapses them to one fresh snap and the content
    // round-trips exactly
    "warehouse_compact" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val docs = e.view("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")).read()
      val v = e.view("compact_scratch",
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      v.write(docs.filter(col("doc_id") % 3 === 0))
      v.write(docs.filter(col("doc_id") % 3 === 1))
      v.write(docs.filter(col("doc_id") % 3 === 2))
      e.warehouse.compact("compact_scratch")
      v.read().select(col("doc_id"), col("n_chars"))
    }),

    // S1/S2 extension: consistent whole-warehouse BACKUP — load a
    // slice, back the warehouse up, then read THROUGH a second Env
    // rooted at the backup; the copy must round-trip exactly (the
    // oracle reads the original parquet).
    "warehouse_backup" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val docs = e.view("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars")).read()
      val v = e.view("compact_scratch",
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      v.write(docs)
      // dest under the (temp, exit-reaped) warehouse root: unique per
      // run so bench repeats never hit the clobber guard
      val dest = s"${e.warehouse.root}/_backup-${System.nanoTime()}"
      e.warehouse.backup(dest)
      val restored = graft.Env(s, Testbed.registry(dir), dest)
      restored.view("compact_scratch", Seq("doc_id", "n_chars")).read()
        .select(col("doc_id"), col("n_chars"))
    }),

    // S4 extension: Z-ORDER compaction — recluster a composite-key
    // brin table on the bit-interleaved (event_id, user_id) key, so
    // zone pruning works on EITHER column, then read a band of the
    // SECOND key column through the pruned path. Results must match
    // the oracle's plain scan exactly — pruning is IO elision only.
    "warehouse_zorder" -> ((s, dir) => {
      val e = env(s, dir)
      e.createTables()
      val ev = e.view("events", Seq("event_id", "user_id", "value")).read()
        .filter(col("user_id").isNotNull)
      val v = e.view("zorder_scratch", Seq("event_id", "user_id", "value"))
      v.write(ev)
      e.warehouse.compactZOrder("zorder_scratch", Seq("event_id", "user_id"))
      v.read(Seq(graft.view.FilterExpr(
          "(and (>= user_id 100) (< user_id 140))")))
        .select(col("event_id"), col("user_id"), col("value"))
    })
  )

  /** DuckDB-equivalent SQL per query (same column names — the driver
    * sorts columns by name before hashing). Omitted for ops that SQL
    * can't express → rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_params" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 5 AND l_returnflag = 'A'""".stripMargin,
    "q3_m2o_join" ->
      """SELECT l_orderkey, l_linenumber, o_orderpriority AS o_priority
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'""".stripMargin,
    "q4_m2o_deep" ->
      """SELECT o_orderkey, r_name AS region
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |WHERE o_totalprice > 200000""".stripMargin,
    "q5_o2m" ->
      """SELECT r_name, n_name
        |FROM region LEFT JOIN nation ON n_regionkey = r_regionkey""".stripMargin,
    "q5b_o2m_agg" ->
      """SELECT r_name, count(n_name) AS cnt, max(n_name) AS top
        |FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q6_auto_groupby" ->
      """SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q7_distinct" -> "SELECT DISTINCT o_orderpriority FROM orders",
    "q8_order_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin,
    "q9_in_like" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |  AND c_name LIKE '%1%'""".stripMargin,
    "q10_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)""".stripMargin,
    "q11_not_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q12_in_subquery" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)""".stripMargin,
    "q32_nested_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_linenumber = c_nationkey))""".stripMargin,
    "q33_nonequi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal)""".stripMargin,
    "q34_multi_nonequi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal
        |    AND o_orderkey < c_custkey * 40)""".stripMargin,
    "q36_or_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND (o_totalprice > c_acctbal
        |    OR o_orderkey < c_custkey * 40))""".stripMargin,
    "q38_neg_dual_scope" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND NOT EXISTS (SELECT 1 FROM lineitem
        |      WHERE l_orderkey = o_orderkey
        |        AND l_extendedprice > c_acctbal))""".stripMargin,
    "q38b_dual_scope_nonequi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND NOT EXISTS (SELECT 1 FROM lineitem
        |      WHERE l_orderkey = o_orderkey
        |        AND l_quantity * 2000 > o_totalprice
        |        AND l_extendedprice > c_acctbal))""".stripMargin,
    "q40_deep_neg_scope" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l.l_orderkey
        |        AND l2.l_extendedprice > c.c_acctbal)))""".stripMargin,
    "q13_dates" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        |  date_trunc('month', o_orderdate) AS mon,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  CAST(o_orderdate AS DATE) AS d
        |FROM orders WHERE o_orderkey < 100""".stripMargin,
    "q14_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue,
        |  (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge,
        |  CAST(floor(l_quantity / 2) AS BIGINT) AS qf
        |FROM lineitem WHERE l_orderkey < 50""".stripMargin,
    "q15_json" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events WHERE props IS NOT NULL""".stripMargin,
    "q16_any_all" ->
      """SELECT vec_id FROM embeddings
        |WHERE list_max(embedding) > 0.35 AND list_max(embedding) < 0.9""".stripMargin,
    "q17_unnest" ->
      """SELECT vec_id, unnest(embedding) AS x FROM embeddings
        |WHERE vec_id < 20""".stripMargin,
    "q18_bool_agg" ->
      """SELECT o_orderstatus,
        |  bool_and(o_orderdate IS NOT NULL) AS all_filled,
        |  bool_or(o_totalprice > 300000) AS any_big
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q19_group_expr" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |  sum(value) AS total, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,
    "q20_write_roundtrip" ->
      """SELECT n_name AS name,
        |  CASE WHEN n_regionkey = 0 THEN 0.0 ELSE sum(s_acctbal) END AS total,
        |  n_regionkey AS regionkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, n_regionkey""".stripMargin,
    "q21_delete_roundtrip" ->
      """SELECT n_name AS name, CAST(1.5 AS DOUBLE) AS total,
        |  n_regionkey AS regionkey
        |FROM nation WHERE n_regionkey <> 1""".stripMargin,
    "q22_fk_write" ->
      """SELECT c_custkey AS custkey, 'hello' AS note FROM customer
        |WHERE c_custkey < 21""".stripMargin,
    "q23_write_toggles" ->
      """SELECT n_name AS name, CAST(1.0 AS DOUBLE) AS total FROM nation""".stripMargin,
    "q24_purge" ->
      """SELECT n_name AS name, n_regionkey AS regionkey FROM nation
        |WHERE n_regionkey = 0""".stripMargin,
    "q25_acl_read" ->
      """SELECT s_suppkey, s_name FROM supplier
        |LEFT JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 1""".stripMargin,
    "q26_param_list" ->
      """SELECT c_custkey FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""".stripMargin,
    "q27_introspect" ->
      """SELECT n_name AS name, CAST(2.0 AS DOUBLE) AS total,
        |  n_regionkey AS regionkey FROM nation""".stripMargin,
    "q28_write_by_id" ->
      """SELECT n_name AS name,
        |  CAST(CASE WHEN row_number() OVER (ORDER BY n_name) <= 5
        |       THEN 9.0 ELSE 1.0 END AS DOUBLE) AS total
        |FROM nation""".stripMargin,
    "q29_acl_write" ->
      """SELECT n_name AS name,
        |  CAST(CASE WHEN n_regionkey = 0 THEN 5.0 ELSE 1.0 END AS DOUBLE) AS total,
        |  n_regionkey AS regionkey
        |FROM nation""".stripMargin,
    "q30_delete_by_data" ->
      """SELECT n_name AS name, CAST(1.0 AS DOUBLE) AS total,
        |  n_regionkey AS regionkey
        |FROM nation WHERE n_regionkey <> 1""".stripMargin,
    "q31_delete_all" ->
      """SELECT CAST(row_number() OVER (ORDER BY n_name) AS BIGINT) AS id,
        |  n_name AS name, CAST(2.0 AS DOUBLE) AS total
        |FROM nation WHERE n_regionkey = 0""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, text, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""".stripMargin,
    "dedup_fingerprint" ->
      """SELECT doc_id FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  ORDER BY doc_id) = 1""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents""".stripMargin,
    // size-32 windows every 24 tokens; DuckDB 1-based inclusive list
    // slicing clamps past the end exactly like Spark's slice. nc skips
    // a trailing window fully contained in its predecessor:
    // max(1, ceil((n - overlap) / step))
    "text_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks,
        |        greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT)) AS nc
        |      FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_ix FROM n)
        |SELECT doc_id, chunk_ix,
        |  array_to_string(toks[chunk_ix * 24 + 1 : chunk_ix * 24 + 32], ' ') AS chunk_text
        |FROM c""".stripMargin,
    // Full re-derivation of Text.qualityScore + Text.langId in DuckDB
    // SQL (regexp + list lambdas); verified value-exact at 6dp.
    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, lang,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks,
        |    len(text) AS nchar,
        |    len(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, ntok, nchar, cjk,
        |    CASE WHEN nchar = 0 THEN 0.0
        |         ELSE CAST(nchar - len(regexp_replace(text, '[\p{P}\p{S}]', '', 'g')) AS DOUBLE) / nchar END AS punct,
        |    CASE WHEN ntok = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ltoks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t))) AS DOUBLE) / len(ltoks) END AS stop,
        |    CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / ntok END AS avgtok,
        |    len(list_filter(ltoks, t -> list_contains(['the','and','of','to','is','that','for','with'], t))) AS s_en,
        |    len(list_filter(ltoks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], t))) AS s_de,
        |    len(list_filter(ltoks, t -> list_contains(['le','la','les','et','est','pas','une','des'], t))) AS s_fr,
        |    len(list_filter(ltoks, t -> list_contains(['el','la','los','y','es','no','una','con'], t))) AS s_es
        |  FROM t)
        |SELECT doc_id,
        |  round(
        |    (CASE WHEN ntok BETWEEN 10 AND 100000 THEN 1.0 WHEN ntok = 0 THEN 0.0 ELSE 0.5 END) * 0.3 +
        |    (1.0 - least(punct * 4, 1.0)) * 0.3 +
        |    (least(stop * 5, 1.0)) * 0.2 +
        |    (CASE WHEN coalesce(avgtok, 0.0) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
        |  , 4) AS quality,
        |  CASE WHEN cjk * 2 > nchar THEN 'zh'
        |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'en'
        |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
        |       ELSE 'es' END AS lang_pred,
        |  lang
        |FROM m""".stripMargin,
    // Brute-force n-gram-Jaccard self-join: the TRUE pair set. Valid as
    // an oracle for the LSH-mined output because every >=threshold pair
    // in this corpus has jaccard >= 0.88, where 128-hash/32-band LSH
    // miss probability is ~1e-14 (verified at sf0.001 and sf0.01).
    "dedup_minhash_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT * FROM p WHERE jaccard >= 0.2""".stripMargin,
    "dedup_minhash_apply" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT idB FROM p WHERE jaccard >= 0.2)""".stripMargin,
    // the fused pipeline's oracle is the COMPOSITION of its stages'
    // already-verified SQL: fingerprint dedup -> true-jaccard near
    // dedup (same LSH-recall argument as dedup_minhash_*) -> the
    // text_quality score (4dp round like the op) -> the sample_hash
    // band at fraction 0.5
    "pipeline_full" ->
      """WITH fp AS (
        |  SELECT doc_id, text FROM documents
        |  QUALIFY row_number() OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |    ORDER BY doc_id) = 1),
        |g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM fp)),
        |p AS (
        |  SELECT b.doc_id AS idB,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
        |nd AS (
        |  SELECT doc_id, text FROM fp
        |  WHERE doc_id NOT IN (SELECT idB FROM p WHERE jaccard >= 0.2)),
        |t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks,
        |    len(text) AS nchar
        |  FROM nd),
        |m AS (
        |  SELECT doc_id, ntok,
        |    CASE WHEN nchar = 0 THEN 0.0
        |         ELSE CAST(nchar - len(regexp_replace(text, '[\p{P}\p{S}]', '', 'g')) AS DOUBLE) / nchar END AS punct,
        |    CASE WHEN ntok = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ltoks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t))) AS DOUBLE) / len(ltoks) END AS stop,
        |    CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / ntok END AS avgtok
        |  FROM t),
        |q AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN ntok BETWEEN 10 AND 100000 THEN 1.0 WHEN ntok = 0 THEN 0.0 ELSE 0.5 END) * 0.3 +
        |    (1.0 - least(punct * 4, 1.0)) * 0.3 +
        |    (least(stop * 5, 1.0)) * 0.2 +
        |    (CASE WHEN coalesce(avgtok, 0.0) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
        |  , 4) AS quality FROM m)
        |SELECT doc_id FROM q
        |WHERE quality >= 0.5
        |  AND (doc_id % 2147483648) * 2654435761 % 4294967296 < 2147483648
        |ORDER BY doc_id""".stripMargin,
    // exact op, exact oracle: same brute-force self-join, no LSH caveat
    "dedup_jaccard_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT * FROM p WHERE jaccard >= 0.2""".stripMargin,
    // exact oracle: brute-force hamming self-join over the SAME
    // md5-derived 60-bit simhash signatures (pigeonhole banding at
    // maxHamming=3 is exact, so candidate generation drops nothing)
    "dedup_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents),
        |h AS (SELECT doc_id, CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) AS BIGINT) AS hv FROM tok),
        |bits AS (SELECT doc_id, bb.b AS b,
        |  sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
        |  FROM h, (SELECT unnest(range(0, 60)) AS b) bb GROUP BY 1, 2),
        |sig AS (SELECT doc_id, CAST(sum(CASE WHEN votes > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS s
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS idA, b.doc_id AS idB,
        |  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3""".stripMargin,
    // decoded stats of a uniform gray-128 PNG: dims are arithmetic of
    // n_chars, luma mirrors the decoder's Rec.601 expression order
    // bit-for-bit, sharpness of a constant image is exactly 0
    "multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(16 + (n_chars % 64) AS INTEGER) AS width,
        |  CAST(16 + ((n_chars // 7) % 48) AS INTEGER) AS height,
        |  3 AS channels,
        |  round((0.299 * 128 + 0.587 * 128 + 0.114 * 128) / 255.0, 6) AS mean_luma,
        |  0.0 AS sharpness
        |FROM documents""".stripMargin,
    "q35_range_join" ->
      """WITH i AS (SELECT user_id, ts AS w_start,
        |    ts + INTERVAL 10 MINUTE AS w_end, event_id AS incident_id
        |  FROM events WHERE event_type = 'error'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, i.incident_id FROM c JOIN i
        |ON c.user_id = i.user_id AND c.ts >= i.w_start AND c.ts < i.w_end""".stripMargin,
    "q36_brin_range" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id BETWEEN 100 AND 400""".stripMargin,
    "q39_bucket_point" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id IN (7, 77, 177, 377)""".stripMargin,
    "q37_txn_roundtrip" ->
      """SELECT n_name AS name, CAST(n_regionkey AS DOUBLE) AS total,
        |  n_regionkey AS regionkey,
        |  (SELECT count(*) FROM customer WHERE c_custkey < 21) AS notes
        |FROM nation""".stripMargin,
    "profile_columns" ->
      """SELECT 'lang' AS "column", count(*) AS n_rows,
        |  count(*) - count(lang) AS n_nulls,
        |  count(DISTINCT CAST(lang AS VARCHAR)) AS n_distinct,
        |  CAST(min(lang) AS VARCHAR) AS min_value,
        |  CAST(max(lang) AS VARCHAR) AS max_value FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source),
        |  count(DISTINCT CAST(source AS VARCHAR)),
        |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT CAST(n_chars AS VARCHAR)),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'text', count(*), count(*) - count(text),
        |  count(DISTINCT CAST(text AS VARCHAR)),
        |  CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        |FROM documents""".stripMargin,
    "profile_histogram" ->
      """WITH b AS (SELECT LEAST(GREATEST(
        |    CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS INTEGER), 0), 19)
        |  AS bin FROM documents WHERE n_chars IS NOT NULL)
        |SELECT CAST(bin AS INTEGER) AS bin, bin * 100.0 AS bin_lo,
        |  (bin + 1) * 100.0 AS bin_hi,
        |  count(*) AS n FROM b GROUP BY bin""".stripMargin,
    "profile_topk" ->
      """SELECT CAST(source AS VARCHAR) AS value, count(*) AS n
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 5""".stripMargin,
    "profile_quantiles" ->
      """SELECT unnest([0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]) AS q,
        |  unnest(quantile_cont(CAST(n_chars AS DOUBLE),
        |    [0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0])) AS value
        |FROM documents""".stripMargin,
    "profile_by_group" ->
      """SELECT source AS "group", 'lang' AS "column", count(*) AS n_rows,
        |  count(*) - count(lang) AS n_nulls,
        |  count(DISTINCT CAST(lang AS VARCHAR)) AS n_distinct,
        |  CAST(min(lang) AS VARCHAR) AS min_value,
        |  CAST(max(lang) AS VARCHAR) AS max_value
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT source, 'n_chars', count(*), count(*) - count(n_chars),
        |  count(DISTINCT CAST(n_chars AS VARCHAR)),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents GROUP BY source""".stripMargin,
    // the profile_columns derivation over each parity half, joined
    "profile_compare" ->
      """WITH pb AS (
        |  SELECT 'lang' AS "column", count(*) AS n_rows,
        |    count(*) - count(lang) AS n_nulls,
        |    count(DISTINCT CAST(lang AS VARCHAR)) AS n_distinct,
        |    CAST(min(lang) AS VARCHAR) AS min_value,
        |    CAST(max(lang) AS VARCHAR) AS max_value
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |    count(DISTINCT CAST(source AS VARCHAR)),
        |    CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |    count(DISTINCT CAST(n_chars AS VARCHAR)),
        |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 0),
        |pa AS (
        |  SELECT 'lang' AS "column", count(*) AS n_rows,
        |    count(*) - count(lang) AS n_nulls,
        |    count(DISTINCT CAST(lang AS VARCHAR)) AS n_distinct,
        |    CAST(min(lang) AS VARCHAR) AS min_value,
        |    CAST(max(lang) AS VARCHAR) AS max_value
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |    count(DISTINCT CAST(source AS VARCHAR)),
        |    CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |    count(DISTINCT CAST(n_chars AS VARCHAR)),
        |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT pb."column",
        |  pb.n_rows AS rows_before, pb.n_nulls AS nulls_before,
        |  pb.n_distinct AS distinct_before,
        |  pb.min_value AS min_before, pb.max_value AS max_before,
        |  pa.n_rows AS rows_after, pa.n_nulls AS nulls_after,
        |  pa.n_distinct AS distinct_after,
        |  pa.min_value AS min_after, pa.max_value AS max_after,
        |  pa.n_rows - pb.n_rows AS rows_delta,
        |  pa.n_nulls - pb.n_nulls AS nulls_delta,
        |  pa.n_distinct - pb.n_distinct AS distinct_delta
        |FROM pb JOIN pa USING ("column")
        |ORDER BY pb."column"""".stripMargin,
    "profile_psi" ->
      """WITH b AS (
        |  SELECT least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS INT), 0), 19) AS bin
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |a AS (
        |  SELECT least(greatest(CAST(floor(CAST(n_chars AS DOUBLE) / 100.0) AS INT), 0), 19) AS bin
        |  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |bins AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bin),
        |cb AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
        |ca AS (SELECT bin, count(*) AS n FROM a GROUP BY 1),
        |j AS (SELECT bins.bin, coalesce(cb.n, 0) AS nb, coalesce(ca.n, 0) AS na
        |      FROM bins LEFT JOIN cb USING (bin) LEFT JOIN ca USING (bin)),
        |t AS (SELECT sum(nb) AS tb, sum(na) AS ta FROM j),
        |p AS (SELECT (nb + 0.5) / (tb + 10.0) AS p, (na + 0.5) / (ta + 10.0) AS q, tb, ta FROM j, t)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi,
        |  CAST(any_value(tb) AS BIGINT) AS n_before,
        |  CAST(any_value(ta) AS BIGINT) AS n_after
        |FROM p""".stripMargin,
    "q34_asof_join" ->
      """WITH e AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts, max(value) AS click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, c.click_value
        |FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    "embed_normalize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM e)
        |SELECT vec_id, round(nm, 6) AS norm,
        |  round(CASE WHEN nm = 0 THEN v[1] ELSE v[1] / nm END, 6) AS c0
        |FROM n""".stripMargin,
    // k = d PCA projection is a pure rotation of the centered vector,
    // so its norm replays as sqrt(sum((x_i − avg_i)²)) — no eigen in
    // the oracle, exact iff centering + orthonormal projection are.
    "embed_pca" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e),
        |m AS (SELECT i, avg(x) AS mu FROM u GROUP BY i),
        |c AS (SELECT u.vec_id, sum((u.x - m.mu) * (u.x - m.mu)) AS ss
        |      FROM u JOIN m ON m.i = u.i GROUP BY u.vec_id)
        |SELECT vec_id, round(sqrt(ss), 6) AS pnorm FROM c""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id, v,
        |  CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale FROM m),
        |z AS (SELECT vec_id, scale, v,
        |  list_transform(v, x -> CAST(round(x / scale) AS TINYINT)) AS qq FROM q)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  CAST(list_sum(qq) AS BIGINT) AS q_sum,
        |  CAST(list_min(qq) AS INTEGER) AS q_min,
        |  CAST(list_max(qq) AS INTEGER) AS q_max,
        |  round(list_max(list_transform(range(1, len(v) + 1),
        |    i -> abs(CAST(qq[i] AS DOUBLE) * scale - v[i]))), 6) AS max_err
        |FROM z""".stripMargin,
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id, 256 + (n_chars % 1024) AS n FROM documents)
        |SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
        |  CAST(n AS BIGINT) AS n_frames,
        |  round(n / 8.0, 3) AS duration_ms,
        |  round(sqrt(list_sum(list_transform(range(0, n),
        |    k -> CAST((((k * 37) % 1001) - 500) * 60 AS DOUBLE)
        |       * ((((k * 37) % 1001) - 500) * 60))) / n) / 32768.0, 6) AS rms
        |FROM d""".stripMargin,
    "multimodal_audio_mp3" ->
      """WITH d AS (SELECT doc_id, 4 + (n_chars % 32) AS f FROM documents)
        |SELECT doc_id, 32000 AS sample_rate, 1 AS channels,
        |  CAST(f * 1152 AS BIGINT) AS n_frames,
        |  round(f * 36.0, 3) AS duration_ms
        |FROM d""".stripMargin,
    "multimodal_audio_aac" ->
      """WITH d AS (SELECT doc_id, 3 + (n_chars % 24) AS f FROM documents)
        |SELECT doc_id, 16000 AS sample_rate, 1 AS channels,
        |  CAST(f * 1024 AS BIGINT) AS n_frames,
        |  round(f * 64.0, 3) AS duration_ms
        |FROM d""".stripMargin,
    "multimodal_audio_m4a" ->
      """WITH d AS (SELECT doc_id, 1000 + (n_chars % 8000) AS sm FROM documents)
        |SELECT doc_id, 16000 AS sample_rate, 1 AS channels,
        |  CAST(sm AS BIGINT) AS n_frames,
        |  round(sm / 16.0, 3) AS duration_ms
        |FROM d""".stripMargin,
    "multimodal_audio_flac" ->
      """WITH d AS (SELECT doc_id, 1000 + (n_chars % 9000) AS sm FROM documents)
        |SELECT doc_id, 16000 AS sample_rate, 1 AS channels,
        |  CAST(sm AS BIGINT) AS n_frames,
        |  round(sm / 16.0, 3) AS duration_ms
        |FROM d""".stripMargin,
    "multimodal_video_ts" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'h264'
        |       WHEN doc_id % 4 = 1 THEN 'mpeg2video'
        |       WHEN doc_id % 4 = 2 THEN 'hevc'
        |       ELSE 'mpeg4video' END AS codec,
        |  CAST(320 + (n_chars % 160) * 2 AS INTEGER) AS width,
        |  CAST(240 + ((n_chars // 7) % 120) * 2 AS INTEGER) AS height,
        |  round(CAST(1000 + (n_chars % 9000) AS DOUBLE), 3) AS duration_ms,
        |  CAST(2 AS INTEGER) AS n_streams
        |FROM documents""".stripMargin,
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id,
        |    500.0 + (n_chars % 2000) AS dur,
        |    CAST(160 + (n_chars % 8) * 16 AS INTEGER) AS width,
        |    CAST(120 + ((n_chars // 3) % 6) * 16 AS INTEGER) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  unnest(list_transform(
        |    range(0, greatest(1, CAST(ceil(dur / 250.0) AS BIGINT))),
        |    i -> i * 250.0)) AS frame_ts_ms
        |FROM d""".stripMargin,
    "text_clean" ->
      """SELECT doc_id, array_to_string(list_filter(
        |    string_split(regexp_replace(text, '\. ', chr(10), 'g'), chr(10)),
        |    l -> len(regexp_split_to_array(trim(l), '\s+')) >= 5
        |         AND trim(l) <> ''),
        |  chr(10)) AS cleaned
        |FROM documents""".stripMargin,
    // bullet (8226) and ellipsis (8230) are built from chr() code
    // points; list lambdas replay the HOF contract (trimmed non-empty
    // lines, non-empty tokens) exactly
    "text_gopher" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN chr(8226) || ' promo line'
        |           || chr(10) || chr(8226) || ' promo line' || chr(10)
        |           || '- item' || chr(10) || text
        |         WHEN doc_id % 11 = 0 THEN text || chr(10)
        |           || 'read more...' || chr(10) || 'read more...'
        |           || chr(10) || '####'
        |         ELSE text END AS t
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, t,
        |    list_filter(list_transform(string_split(t, chr(10)),
        |      x -> trim(x)), x -> x <> '') AS lines,
        |    list_filter(regexp_split_to_array(trim(t), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM p)
        |SELECT doc_id,
        |  CASE WHEN len(lines) = 0 THEN 0.0 ELSE
        |    round(len(list_filter(lines, x -> regexp_matches(x,
        |      '^[' || chr(8226) || '*-]')))::DOUBLE / len(lines), 6)
        |  END AS frac_bullet_lines,
        |  CASE WHEN len(lines) = 0 THEN 0.0 ELSE
        |    round(len(list_filter(lines, x -> regexp_matches(x,
        |      '(\.\.\.|' || chr(8230) || ')$')))::DOUBLE / len(lines), 6)
        |  END AS frac_ellipsis_lines,
        |  CASE WHEN len(lines) = 0 THEN 0.0 ELSE
        |    round((len(lines) - len(list_distinct(lines)))::DOUBLE
        |      / len(lines), 6)
        |  END AS dup_line_frac,
        |  CASE WHEN len(lines) = 0 THEN 0.0 ELSE
        |    round((coalesce(list_sum(list_transform(lines,
        |        x -> length(x))), 0)
        |      - coalesce(list_sum(list_transform(list_distinct(lines),
        |        x -> length(x))), 0))::DOUBLE
        |      / greatest(coalesce(list_sum(list_transform(lines,
        |        x -> length(x))), 0), 1), 6)
        |  END AS dup_line_char_frac,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    round(len(list_filter(toks, x -> regexp_matches(x,
        |      '[A-Za-z]')))::DOUBLE / len(toks), 6)
        |  END AS frac_alpha_words,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    round(((length(t) - length(replace(t, '#', '')))
        |      + (length(t) - length(replace(t, chr(8230), '')))
        |      + (length(t) - length(replace(t, '...', ''))) / 3)::DOUBLE
        |      / len(toks), 6)
        |  END AS symbol_word_ratio
        |FROM l""".stripMargin,
    // the planted prefix is built from chr() codepoints so the JSON
    // side-channel never carries raw control bytes; the op's stage
    // order (nfc -> crlf -> control strip) is replayed verbatim
    "text_normalize" ->
      """SELECT doc_id, regexp_replace(
        |    regexp_replace(
        |      nfc_normalize('Cafe' || chr(769) || chr(13) || chr(10)
        |                    || chr(1) || ' ' || text),
        |      '\r\n|\r', chr(10), 'g'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS text
        |FROM documents""".stripMargin,
    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, len(text) AS n,
        |    list_transform(range(1, len(text) + 1), i -> text[i]) AS cs
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, n, list_transform(list_sort(list_distinct(cs)),
        |    c -> len(list_filter(cs, x -> x = c))) AS counts
        |  FROM ch)
        |SELECT doc_id,
        |  CASE WHEN n = 0 THEN NULL ELSE
        |    round(ln(n) - list_sum(list_transform(counts,
        |      c -> c * ln(c))) / n, 6)
        |  END AS entropy
        |FROM cnt""".stripMargin,
    // the extractor's whitespace discipline on the planted <p> body:
    // collapse space runs + trim; an all-space body drops its line
    "text_html_extract" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || chr(10) ||
        |  CASE WHEN len(trim(regexp_replace(text, ' +', ' ', 'g'))) > 0
        |       THEN trim(regexp_replace(text, ' +', ' ', 'g')) || chr(10)
        |       ELSE '' END ||
        |  '& <tail> AB' AS extracted
        |FROM documents""".stripMargin,
    // subwords: the lookbehind-split count equals (# alphanumeric
    // runs) + (# non-alnum non-space chars) — lookbehind-free algebra
    "text_stats" ->
      """SELECT doc_id,
        |  round(CASE WHEN len(text) = 0 THEN 0.0
        |    ELSE CAST(len(text) - len(regexp_replace(text, '[\p{P}\p{S}]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio,
        |  round(CASE WHEN ntok = 0 THEN 0.0
        |    ELSE CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / ntok END, 6) AS avg_tok_len,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |    + len(regexp_replace(text, '[\p{L}\p{N} ]', '', 'g')) AS BIGINT) AS subwords
        |FROM (SELECT doc_id, text,
        |        CASE WHEN trim(text) = '' THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok
        |      FROM documents)""".stripMargin,
    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 5000 AS doc_id, text || ' zzz' AS text
        |  FROM documents WHERE doc_id < 5
        |  UNION ALL
        |  SELECT doc_id + 6000,
        |    array_to_string(list_reverse(regexp_split_to_array(text, '\s+')), ' ')
        |  FROM documents WHERE doc_id >= 5 AND doc_id < 10),
        |bg AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM batch)),
        |cg AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |doomed AS (
        |  SELECT DISTINCT b.doc_id FROM bg b JOIN cg c ON
        |    CAST(len(list_intersect(b.grams, c.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(b.grams, c.grams))) >= 0.5)
        |SELECT doc_id FROM batch
        |WHERE doc_id NOT IN (SELECT doc_id FROM doomed)""".stripMargin,
    // signed hashing trick, replayed exactly: the 60-bit token hash is
    // the simhash oracle's md5 convention; bucket = hv % 64, sign =
    // bit 59; only non-zero signed counts compare (integer-exact)
    "text_hash_embed" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents),
        |h AS (SELECT doc_id, CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) AS BIGINT) AS hv FROM tok),
        |f AS (SELECT doc_id, CAST(hv % 64 AS INTEGER) AS dim,
        |  CAST(sum(CASE WHEN (hv >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS INTEGER) AS w
        |  FROM h GROUP BY 1, 2)
        |SELECT doc_id, dim, w FROM f WHERE w <> 0""".stripMargin,
    "embed_decontaminate" ->
      """WITH bench AS (
        |  SELECT list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS bv
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT e.vec_id FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM bench b
        |  WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |          CAST(b.bv AS DOUBLE[])) >= 0.9)""".stripMargin,
    "embed_decontaminate_exact" ->
      """WITH bench AS (
        |  SELECT list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS bv
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT e.vec_id FROM embeddings e
        |WHERE NOT EXISTS (SELECT 1 FROM bench b
        |  WHERE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |          CAST(b.bv AS DOUBLE[])) >= 0.8)""".stripMargin,
    "dedup_embedding_apply" ->
      """WITH pool AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM embeddings WHERE vec_id < 20),
        |doomed AS (
        |  SELECT b.vec_id FROM pool a JOIN pool b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) >= 0.95)
        |SELECT vec_id FROM pool
        |WHERE vec_id NOT IN (SELECT vec_id FROM doomed)""".stripMargin,
    // within-cluster pairing only: the doomed join carries the
    // a.label = b.label restriction SemDeDup is defined by
    "dedup_semantic" ->
      """WITH pool AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)),
        |    label
        |  FROM embeddings WHERE vec_id < 20),
        |doomed AS (
        |  SELECT b.vec_id FROM pool a JOIN pool b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) >= 0.95)
        |SELECT vec_id FROM pool
        |WHERE vec_id NOT IN (SELECT vec_id FROM doomed)""".stripMargin,
    "text_vocab" ->
      """SELECT t AS token, count(*) AS docs
        |FROM (SELECT DISTINCT doc_id, unnest(list_filter(
        |        list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
        |        x -> len(x) > 0)) AS t
        |      FROM documents)
        |GROUP BY t""".stripMargin,
    "ann_brute_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    // Brute-force oracle over the same planted pool: gates the LSH
    // paths on full recall of the planted near-duplicates.
    "ann_lsh_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    "ann_ivf_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    // the 10 planted copies dominate both the exact cosine ranking
    // and the PQ-distorted ADC ranking (natural cosines max ~0.47),
    // so the approximate index must return exactly the oracle's set
    "ann_pq_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    // append-encoded planted copies must dominate the ADC ranking just
    // like build-encoded ones: same brute-force oracle
    "ann_pq_append" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    // the exact-rerank stage restores the true cosine ranking over the
    // PQ candidate set: identical brute-force oracle
    "ann_pq_rerank" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    "ann_quantized_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM pool),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS mx FROM d),
        |sc AS (SELECT vec_id, v,
        |  CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale FROM m),
        |z AS (SELECT vec_id, scale,
        |  list_transform(v, x -> CAST(round(x / scale) AS TINYINT)) AS qq FROM sc),
        |dq AS (SELECT vec_id,
        |  list_transform(qq, x -> CAST(x AS DOUBLE) * scale) AS dv FROM z)
        |SELECT dq.vec_id FROM dq, q
        |ORDER BY list_cosine_similarity(dv, CAST(q.qe AS DOUBLE[])) DESC, dq.vec_id
        |LIMIT 10""".stripMargin,
    "ann_indexed_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT 1000000 + t.i,
        |    list_transform(q.qe, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM range(0, 10) t(i), q)
        |SELECT p.vec_id FROM pool p, q
        |ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, p.vec_id
        |LIMIT 10""".stripMargin,
    // brute-force batch-vs-corpus cosine; keep = no corpus vector
    // within 0.95 (planted copies sit at 1.0, reversed fresh ~0.4)
    "dedup_embedding_incremental" ->
      """WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |batch AS (
        |  SELECT vec_id + 5000 AS vec_id,
        |    CAST(list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 6000, CAST(list_reverse(embedding) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)
        |SELECT b.vec_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |  WHERE list_cosine_similarity(b.v, c.v) >= 0.95)
        |ORDER BY vec_id""".stripMargin,
    // same brute-force batch-vs-corpus decision: the k-means cluster
    // bound loses nothing on identical-direction copies (same argmin
    // centroid as their originals) and reversed vectors survive in
    // any cluster
    "dedup_semantic_incremental" ->
      """WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |batch AS (
        |  SELECT vec_id + 5000 AS vec_id,
        |    CAST(list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 6000, CAST(list_reverse(embedding) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)
        |SELECT b.vec_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |  WHERE list_cosine_similarity(b.v, c.v) >= 0.95)
        |ORDER BY vec_id""".stripMargin,
    // normalize -> quantize -> dequantize replicated stage-for-stage
    // in double arithmetic, then the same batch-vs-corpus decision
    "embed_pipeline" ->
      """WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |batch AS (
        |  SELECT vec_id + 5000 AS vec_id,
        |    CAST(list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 6000, CAST(list_reverse(embedding) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 10),
        |nc AS (SELECT vec_id, CASE WHEN nm = 0 THEN v ELSE list_transform(v, x -> x / nm) END AS v
        |       FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM corpus)),
        |qc AS (SELECT vec_id, CAST(list_transform(v, x -> CAST(round(x / scale) AS TINYINT) * scale) AS DOUBLE[]) AS v
        |       FROM (SELECT vec_id, v, CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
        |             FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM nc))),
        |nb AS (SELECT vec_id, CASE WHEN nm = 0 THEN v ELSE list_transform(v, x -> x / nm) END AS v
        |       FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nm FROM batch)),
        |qb AS (SELECT vec_id, CAST(list_transform(v, x -> CAST(round(x / scale) AS TINYINT) * scale) AS DOUBLE[]) AS v
        |       FROM (SELECT vec_id, v, CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
        |             FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM nb)))
        |SELECT b.vec_id FROM qb b
        |WHERE NOT EXISTS (SELECT 1 FROM qc c
        |  WHERE list_cosine_similarity(b.v, c.v) >= 0.95)
        |ORDER BY vec_id""".stripMargin,
    "dedup_embedding_pairs" ->
      """WITH pool AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS idA, b.vec_id AS idB,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |FROM pool a JOIN pool b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.95""".stripMargin,
    // Transitive closure over the brute-force pair set: component =
    // min reachable id, via a recursive CTE (UNION dedups, so the
    // fixpoint terminates). Valid for the LSH-mined input for the same
    // reason as dedup_minhash_pairs (pair recall ~1 at this corpus).
    "dedup_clusters" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2),
        |e AS (SELECT idA AS a, idB AS b FROM p UNION SELECT idB, idA FROM p),
        |reach(id, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b)
        |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin,
    "dedup_cluster_apply" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2),
        |e AS (SELECT idA AS a, idB AS b FROM p UNION SELECT idB, idA FROM p),
        |reach(id, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin,
    // Same 32-bit Knuth multiplicative hash as Sample.idHash — folded
    // to 2^31 first so the bigint product can't overflow either engine
    "sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE (doc_id % 2147483648) * 2654435761 % 4294967296
        |      < 1073741824""".stripMargin,
    "sample_upsample" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CAST(floor(fac) AS BIGINT) + CASE
        |      WHEN (doc_id % 2147483648) * 2654435761 % 4294967296
        |           < CAST((fac - floor(fac)) * 4294967296.0 AS BIGINT)
        |      THEN 1 ELSE 0 END AS copies
        |  FROM (SELECT doc_id, source,
        |          CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |               WHEN 'src2' THEN 0.0 ELSE 1.0 END AS fac
        |        FROM documents))
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(0, copies - 1)) AS INTEGER) AS copy
        |FROM c ORDER BY doc_id, copy""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10""".stripMargin,
    // the text_quality score re-derivation (4dp round like the op),
    // then the per-source proportional cut
    "sample_top_fraction" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ntok,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks,
        |    len(text) AS nchar
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, ntok,
        |    CASE WHEN nchar = 0 THEN 0.0
        |         ELSE CAST(nchar - len(regexp_replace(text, '[\p{P}\p{S}]', '', 'g')) AS DOUBLE) / nchar END AS punct,
        |    CASE WHEN ntok = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ltoks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be'], t))) AS DOUBLE) / len(ltoks) END AS stop,
        |    CASE WHEN ntok = 0 THEN NULL
        |         ELSE CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE) / ntok END AS avgtok
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source, round(
        |    (CASE WHEN ntok BETWEEN 10 AND 100000 THEN 1.0 WHEN ntok = 0 THEN 0.0 ELSE 0.5 END) * 0.3 +
        |    (1.0 - least(punct * 4, 1.0)) * 0.3 +
        |    (least(stop * 5, 1.0)) * 0.2 +
        |    (CASE WHEN coalesce(avgtok, 0.0) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
        |  , 4) AS q FROM m)
        |SELECT doc_id FROM q
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
        |     <= ceil(count(*) OVER (PARTITION BY source) * 0.25)
        |ORDER BY doc_id""".stripMargin,
    // planted mega-stratum (90% of docs in one stratum): the oracle's
    // window sorts it in one pass at sf0.01; the op's boundary plan
    // keeps the same exact ceil(f*n)/(score desc, id) contract with no
    // per-stratum window task (PlanSpec proof)
    "sample_top_fraction_skew" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 9 THEN 'mega'
        |         ELSE 's' || CAST(doc_id % 10 AS VARCHAR) END AS strat,
        |    n_chars FROM documents)
        |SELECT doc_id FROM t
        |QUALIFY row_number() OVER (PARTITION BY strat ORDER BY n_chars DESC, doc_id)
        |     <= ceil(count(*) OVER (PARTITION BY strat) * 0.1)
        |ORDER BY doc_id""".stripMargin,
    // cuts 0.25/0.75 are exactly binary-representable, so both
    // engines' ceil(n * f) agree bit-for-bit
    "sample_score_buckets" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, CAST(CASE WHEN rn <= ceil(n * 0.25) THEN 0
        |  WHEN rn <= ceil(n * 0.75) THEN 1 ELSE 2 END AS INTEGER) AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    "sample_score_buckets_keep" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |b AS (SELECT doc_id, CASE WHEN rn <= ceil(n * 0.25) THEN 0
        |  WHEN rn <= ceil(n * 0.75) THEN 1 ELSE 2 END AS bkt FROM r)
        |SELECT doc_id FROM b
        |WHERE (doc_id % 2147483648) * 2654435761 % 4294967296 <
        |  CASE bkt WHEN 0 THEN 4294967296 WHEN 1 THEN 2147483648
        |    ELSE 536870912 END
        |ORDER BY doc_id""".stripMargin,
    // floor() before the BIGINT cast: DuckDB's double→bigint cast
    // rounds to nearest, Spark's truncates — rates are positive so
    // floor == truncate
    "sample_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS wsum FROM c),
        |r AS (SELECT lang, least(1.0, 0.5 * tot * pow(n, 0.5) / wsum / n) AS rate FROM c, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE (d.doc_id % 2147483648) * 2654435761 % 4294967296
        |      < CAST(floor(rate * 4294967296.0) AS BIGINT)""".stripMargin,
    // shard: second multiplicative constant (2246822519); pos: the
    // Sample.idHash constant — both folded to 2^31 first (no overflow)
    "sample_shuffle" ->
      """SELECT doc_id,
        |  CAST((doc_id % 2147483648) * 2246822519 % 4294967296 % 16
        |    AS INTEGER) AS shard,
        |  (doc_id % 2147483648) * 2654435761 % 4294967296 AS pos
        |FROM documents""".stripMargin,
    // group band by the first 8 hex chars of md5(source): fixed-width
    // lowercase hex compares lexicographically = numerically in both
    // engines
    "sample_group_split" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(source AS VARCHAR)), 1, 8) >= '00000000'
        |  AND substr(md5(CAST(source AS VARCHAR)), 1, 8) < '80000000'""".stripMargin,
    // the dedup_clusters component CTE + the group-split md5 band on
    // the component root (unpaired docs group by their own id)
    "sample_leakage_split" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2),
        |e AS (SELECT idA AS a, idB AS b FROM p UNION SELECT idB, idA FROM p),
        |reach(id, r) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |grp AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grpkey
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
        |SELECT doc_id FROM grp
        |WHERE substr(md5(CAST(grpkey AS VARCHAR)), 1, 8) >= '00000000'
        |  AND substr(md5(CAST(grpkey AS VARCHAR)), 1, 8) < '80000000'
        |ORDER BY doc_id""".stripMargin,
    "sample_curriculum" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk
        |  FROM documents)
        |SELECT doc_id, CAST(rk % 8 AS INTEGER) AS shard,
        |  CAST(rk // 8 AS BIGINT) AS position FROM r""".stripMargin,
    "sample_pack" ->
      """SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000 AS BIGINT) AS shard
        |FROM (SELECT doc_id,
        |        CASE WHEN trim(text) = '' THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |      FROM documents)""".stripMargin,
    // long docs (> 1000 tokens) split into 1000-token pieces on
    // whitespace boundaries before the prefix-sum shard assignment,
    // ordered by (doc_id, piece)
    "sample_sequences" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT -1, trim(repeat('w ', 3500))),
        |w AS (SELECT doc_id, text,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM d),
        |pl AS (SELECT doc_id, text, n_tokens,
        |  unnest(range(0, CAST(ceil(n_tokens / 1000.0) AS BIGINT))) AS k
        |  FROM w WHERE n_tokens > 1000),
        |p AS (
        |  SELECT doc_id, 0 AS pi, text, n_tokens FROM w WHERE n_tokens <= 1000
        |  UNION ALL
        |  SELECT doc_id, k AS pi,
        |    array_to_string((regexp_split_to_array(trim(text), '\s+'))[k*1000+1 : (k+1)*1000], ' '),
        |    least(1000, n_tokens - k*1000)
        |  FROM pl),
        |s AS (SELECT doc_id, pi, text, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id, pi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000 AS BIGINT) AS seq_id
        |  FROM p)
        |SELECT seq_id, string_agg(text, ' ' ORDER BY doc_id, pi) AS text,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1""".stripMargin,
    "sample_mixture" ->
      """WITH w AS (SELECT doc_id, source,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS cum FROM w)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE cum <= CASE WHEN source IN ('src0', 'src1', 'src2')
        |  THEN 2000 ELSE 500 END""".stripMargin,
    "text_pii" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' contact bob.smith+spam@example.org or 10.0.0.1 call +1 555 867-5309'
        |    ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ips,
        |  len(regexp_extract_all(t, '\+?\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{2,4}')) AS phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{2,4}', '[PHONE]', 'g') AS redacted
        |FROM d""".stripMargin,
    "text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, dfs.df,
        |  round(tf.tf * (ln((nn + 1.0) / (dfs.df + 1.0)) + 1.0), 6) AS tfidf
        |FROM tf JOIN dfs USING (token), n""".stripMargin,
    "text_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |lens AS (SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY 1),
        |dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT count(*) AS nn, avg(dlen) AS avglen FROM lens)
        |SELECT tf.doc_id, tf.token, tf.tf, dfs.df,
        |  round(ln(1.0 + (nn - dfs.df + 0.5) / (dfs.df + 0.5))
        |    * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dlen / avglen)), 6) AS bm25
        |FROM tf JOIN lens USING (doc_id) JOIN dfs USING (token), c""".stripMargin,
    "text_decontaminate" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')) END)) AS gram FROM tok),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, count(*) AS n_hits FROM g JOIN bg USING (gram) GROUP BY 1""".stripMargin,
    // exact by construction (bloom false positives die in the verify
    // join), so the oracle is decontaminate's, verbatim
    "text_decontaminate_bloom" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')) END)) AS gram FROM tok),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, count(*) AS n_hits FROM g JOIN bg USING (gram) GROUP BY 1""".stripMargin,
    "text_decontaminate_trim" ->
      """WITH tok AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |g0 AS (SELECT doc_id, unnest(CASE WHEN len(t) < 8
        |    THEN [{'p': 0, 's': len(t), 'g': array_to_string(t, ' ')}]
        |    ELSE list_transform(range(0, len(t) - 7), i ->
        |      {'p': i, 's': 8, 'g': array_to_string(t[i+1:i+8], ' ')}) END) AS u
        |  FROM tok),
        |g AS (SELECT doc_id, u.p AS pos, u.s AS span, u.g AS gram FROM g0),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
        |rm0 AS (SELECT g.doc_id, unnest(range(g.pos, g.pos + g.span)) AS ti
        |  FROM g JOIN bg USING (gram)),
        |rm AS (SELECT doc_id, list(DISTINCT ti) AS rml FROM rm0 GROUP BY 1)
        |SELECT tok.doc_id,
        |  CASE WHEN rm.doc_id IS NULL THEN tok.text
        |  ELSE coalesce(array_to_string(list_filter(regexp_split_to_array(trim(tok.text), '\s+'),
        |    (x, i) -> NOT list_contains(rml, i - 1)), ' '), '') END AS text
        |FROM tok LEFT JOIN rm USING (doc_id)""".stripMargin,
    // the oracle states the EXPECTED canonical form in closed form
    // per variant — it never runs a normalizer, so the two sides are
    // independent derivations of the same rules
    "text_url_normalize" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST((doc_id - doc_id % 3) / 3 AS BIGINT) AS grp, doc_id % 3 AS v
        |  FROM documents)
        |SELECT doc_id,
        |  CASE v WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.com:443/p/' || grp || '/?utm_source=x&b=2&a=1#frag'
        |         WHEN 1 THEN 'https://' || source || '.com/p/' || grp || '?a=1&b=2&gclid=z'
        |         ELSE source || '.com/p/' || grp END AS url_raw,
        |  CASE v WHEN 0 THEN 'https://' || source || '.com/p/' || grp || '?a=1&b=2'
        |         WHEN 1 THEN 'https://' || source || '.com/p/' || grp || '?a=1&b=2'
        |         ELSE 'http://' || source || '.com/p/' || grp END AS url_norm
        |FROM d""".stripMargin,
    "text_domain_filter" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'sub.' || source || '.com'
        |         ELSE source || '.org' END AS host
        |  FROM documents),
        |bl AS (SELECT DISTINCT source || '.com' AS domain FROM documents
        |  WHERE length(source) % 2 = 0)
        |SELECT doc_id FROM d WHERE NOT EXISTS (
        |  SELECT 1 FROM bl WHERE d.host = bl.domain
        |    OR d.host LIKE '%.' || bl.domain)""".stripMargin,
    // round-trips: the oracle is the untouched source table — any
    // byte lost or type bent in transit hash-mismatches
    "corpus_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "corpus_warc_roundtrip" ->
      """SELECT 'http://' || source || '/doc/' || doc_id AS target_uri,
        |  text, CAST(200 AS INTEGER) AS http_status,
        |  'text/plain; charset=utf-8' AS http_content_type
        |FROM documents""".stripMargin,
    "corpus_csv_roundtrip" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events",
    // the planted edits make the expected verdict closed-form
    "corpus_diff" ->
      """SELECT doc_id, 'removed' AS change FROM documents WHERE doc_id < 5
        |UNION ALL
        |SELECT doc_id, 'changed' AS change FROM documents WHERE doc_id >= 5 AND doc_id < 10
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, 'added' AS change FROM documents WHERE doc_id < 5""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
        |gn AS (SELECT n, doc_id, unnest(CASE WHEN len(t) < n THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, len(t) - n + 2), i -> array_to_string(t[i:i+n-1], ' ')) END) AS gram
        |  FROM tok, (VALUES (1), (2), (3)) v(n)),
        |c AS (SELECT n, doc_id, gram, count(*) AS c FROM gn GROUP BY 1, 2, 3),
        |f AS (SELECT n, doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS frac FROM c GROUP BY 1, 2)
        |SELECT doc_id,
        |  max(CASE WHEN n = 1 THEN frac END) AS top_unigram_frac,
        |  max(CASE WHEN n = 2 THEN frac END) AS top_bigram_frac,
        |  max(CASE WHEN n = 3 THEN frac END) AS top_trigram_frac
        |FROM f GROUP BY 1""".stripMargin,
    "text_lm_score" ->
      """WITH tokr AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id < 100),
        |counts AS (SELECT token, count(*) AS c FROM tokr GROUP BY 1),
        |k AS (SELECT sum(c) AS t, count(*) AS v FROM counts),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  round(sum(tf.tf * ln((coalesce(counts.c, 0) + 1.0) / (k.t + k.v)))
        |    / sum(tf.tf), 6) AS lm_logprob
        |FROM tf LEFT JOIN counts USING (token), k GROUP BY 1""".stripMargin,
    "text_classifier" ->
      """WITH ptok AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |ntok AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE source IN ('src3', 'src4', 'src5')),
        |pc AS (SELECT token, count(*) AS cp FROM ptok GROUP BY 1),
        |nc AS (SELECT token, count(*) AS cn FROM ntok GROUP BY 1),
        |j AS (SELECT coalesce(pc.token, nc.token) AS token, cp, cn
        |  FROM pc FULL OUTER JOIN nc ON pc.token = nc.token),
        |k AS (SELECT sum(coalesce(cp, 0)) AS tp, sum(coalesce(cn, 0)) AS tn,
        |  count(*) AS v FROM j),
        |w AS (SELECT token, round(ln((coalesce(cp, 0) + 1.0) / (k.tp + k.v))
        |  - ln((coalesce(cn, 0) + 1.0) / (k.tn + k.v)), 6) AS weight FROM j, k),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |tfw AS (SELECT tf.doc_id, tf.tf,
        |  CAST(round(coalesce(w.weight, 0.0) * 1e6, 0) AS BIGINT) AS wi
        |  FROM tf LEFT JOIN w USING (token))
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(sum(tf * wi) / sum(tf) / 1e6, 6) AS clf_score
        |FROM tfw GROUP BY 1""".stripMargin,
    "dedup_spans" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' this shared boilerplate footer sentence repeats across many documents verbatim'
        |    ELSE text END AS text FROM documents),
        |tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM d),
        |g0 AS (SELECT doc_id, len(t) AS nt, unnest(CASE WHEN len(t) < 8
        |    THEN [{'p': 0, 's': len(t), 'g': array_to_string(t, ' ')}]
        |    ELSE list_transform(range(0, len(t) - 7), i ->
        |      {'p': i, 's': 8, 'g': array_to_string(t[i+1:i+8], ' ')}) END) AS u
        |  FROM tok),
        |g AS (SELECT doc_id, nt, u.p AS pos, u.s AS span, u.g AS gram FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |cov0 AS (SELECT g.doc_id, g.nt, unnest(range(g.pos, g.pos + g.span)) AS ti
        |  FROM g JOIN dup USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, nt, ti FROM cov0)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, count(*) AS dup_tokens,
        |  round(CAST(count(*) AS DOUBLE) / nt, 6) AS dup_frac
        |FROM cov GROUP BY doc_id, nt""".stripMargin,
    "dedup_spans_apply" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' this shared boilerplate footer sentence repeats across many documents verbatim'
        |    ELSE text END AS text FROM documents),
        |tok AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM d),
        |g0 AS (SELECT doc_id, unnest(CASE WHEN len(t) < 8
        |    THEN [{'p': 0, 's': len(t), 'g': array_to_string(t, ' ')}]
        |    ELSE list_transform(range(0, len(t) - 7), i ->
        |      {'p': i, 's': 8, 'g': array_to_string(t[i+1:i+8], ' ')}) END) AS u
        |  FROM tok),
        |g AS (SELECT doc_id, u.p AS pos, u.s AS span, u.g AS gram FROM g0),
        |dup AS (SELECT gram, min(doc_id) AS own FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |rm0 AS (SELECT g.doc_id, unnest(range(g.pos, g.pos + g.span)) AS ti
        |  FROM g JOIN dup USING (gram) WHERE g.doc_id <> dup.own),
        |rm AS (SELECT doc_id, list(DISTINCT ti) AS rml FROM rm0 GROUP BY 1)
        |SELECT tok.doc_id,
        |  CASE WHEN rm.doc_id IS NULL THEN tok.text
        |  ELSE coalesce(array_to_string(list_filter(regexp_split_to_array(trim(tok.text), '\s+'),
        |    (x, i) -> NOT list_contains(rml, i - 1)), ' '), '') END AS text
        |FROM tok LEFT JOIN rm USING (doc_id)""".stripMargin,
    "warehouse_compact" ->
      "SELECT doc_id, n_chars FROM documents",
    "warehouse_zorder" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id >= 100 AND user_id < 140""".stripMargin,
    "warehouse_backup" ->
      "SELECT doc_id, n_chars FROM documents"
  )
}
