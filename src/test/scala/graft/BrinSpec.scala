package graft

import java.nio.file.Files
import graft.schema.Registry
import graft.store.Brin
import graft.view.{Filter, FilterEq, FilterExpr, ZonePrune}
import graft.expr.Args

/** `use-index: brin` — Spark-native BRIN: range-clustered zoned
  * snapshots + manifest zone maps + driver-side zone pruning on
  * key-bounded reads (reference: tanker/context.py:657-676,
  * tests/base_test.py:53). */
class BrinSpec extends SparkSpec {

  val yaml: String =
    """- table: reading
      |  columns:
      |    seq: bigint
      |    val: float
      |  key: [seq]
      |  use-index: brin
      |- table: event_log
      |  columns:
      |    ts: timestamp
      |    kind: varchar
      |  key: [ts]
      |  use-index: brin
      |- table: grid
      |  columns:
      |    a: bigint
      |    b: bigint
      |    w: float
      |  key: [a, b]
      |  use-index: brin
      |- table: flat
      |  columns:
      |    k: bigint
      |    v: float
      |  key: [k]
      |""".stripMargin

  def bEnv(zones: Int = 8): Env = {
    spark.conf.set("spark.graft.brin.zones", zones.toString)
    val root = Files.createTempDirectory("graft-brin-").toString
    val env = Env(spark, Registry.fromYaml(yaml), root)
    env.createTables()
    env
  }

  test("zoned write/read round trip; manifest carries zone stats") {
    val env = bEnv()
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    assert(rows(v.read()).size == 80)
    val m = env.warehouse.currentManifest("reading").get
    assert(m.zones.nonEmpty, "brin manifest must carry zones")
    assert(m.zones.forall(z => z.lo.isDefined && z.hi.isDefined))
    // zone stats cover the key range and are internally ordered
    val los = m.zones.map(_.lo.get.asInstanceOf[Long])
    val his = m.zones.map(_.hi.get.asInstanceOf[Long])
    assert(los.min == 1L && his.max == 80L)
    m.zones.foreach(z => assert(Brin.cmp(z.lo.get, z.hi.get) <= 0))
    assert(env.warehouse.maxId("reading") == 80)
  }

  test("key-range read prunes zone directories but keeps results exact") {
    val env = bEnv(zones = 8)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    val allFiles = v.read().inputFiles.length
    assert(allFiles >= 4, s"expected multiple zone files, got $allFiles")
    val pruned = v.read(Seq("(and (>= seq 10) (<= seq 14))"))
    assert(rows(pruned).map(_.head.asInstanceOf[Long]).sorted == (10L to 14L))
    assert(pruned.inputFiles.length < allFiles,
      s"range read should open fewer zones: ${pruned.inputFiles.length} vs $allFiles")
    // point read: at most a couple of zones
    val pt = v.read(Seq("(= seq 42)"))
    assert(rows(pt) == Seq(Seq(42L, 42.0)))
    assert(pt.inputFiles.length <= 2)
    // empty intersection = provably empty: zero files, zero rows
    val none = v.read(Seq("(and (> seq 50) (< seq 40))"))
    assert(rows(none).isEmpty && none.inputFiles.isEmpty)
  }

  test("filters that cannot bound the key do not prune (and stay correct)") {
    val env = bEnv(zones = 8)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    val all = v.read().inputFiles.length
    // non-key column filter: no zone bound
    assert(v.read(Seq("(< val 5)")).inputFiles.length == all)
    // disjunction: top-level or is not a conjunct — unprunable
    val orRead = v.read(Seq("(or (= seq 3) (< val 0))"))
    assert(orRead.inputFiles.length == all)
    assert(rows(orRead) == Seq(Seq(3L, 3.0)))
  }

  test("timestamp-keyed table prunes on time-range filters") {
    val env = bEnv(zones = 8)
    val v = env.view("event_log", Seq("ts", "kind"))
    val rowsIn = (0 until 96).map(h =>
      Seq(f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:00:00", s"k${h % 3}"))
    v.write(rowsIn)
    assert(rows(v.read()).size == 96)
    val all = v.read().inputFiles.length
    val day = v.read(
      Seq("(and (>= ts {lo}) (< ts {hi}))"),
      kwargs = Map("lo" -> "2024-03-02 00:00:00", "hi" -> "2024-03-03 00:00:00"))
    assert(rows(day).size == 24)
    assert(day.inputFiles.length < all,
      s"day slice should prune: ${day.inputFiles.length} vs $all")
  }

  test("upsert merge and delete preserve zoned layout and stats") {
    val env = bEnv(zones = 4)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 40).map(i => Seq(i.toLong, i.toDouble)))
    // update a slice + insert past the end: full re-cluster, ids continue
    v.write(Seq(Seq(7L, 700.0), Seq(41L, 41.0)))
    assert(rows(v.read(Seq("(= seq 7)"))) == Seq(Seq(7L, 700.0)))
    assert(env.warehouse.maxId("reading") == 41)
    val m = env.warehouse.currentManifest("reading").get
    assert(m.zones.nonEmpty &&
      m.zones.map(_.hi.get.asInstanceOf[Long]).max == 41L)
    // delete by filter reclusters the remainder
    v.delete(Seq("(> seq 30)"))
    assert(rows(v.read()).size == 30)
    val m2 = env.warehouse.currentManifest("reading").get
    assert(m2.zones.map(_.hi.get.asInstanceOf[Long]).max == 30L)
    // zone-pruned read still exact after the rewrite
    assert(rows(v.read(Seq("(and (>= seq 29) (<= seq 31))")))
      .map(_.head.asInstanceOf[Long]).sorted == Seq(29L, 30L))
  }

  test("narrow-range merge rewrites only overlapping zones (carry-over)") {
    val env = bEnv(zones = 4)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 40).map(i => Seq(i.toLong, i.toDouble)))
    val m1 = env.warehouse.currentManifest("reading").get
    assert(m1.zones.size >= 3)
    // update two high keys: only zones overlapping [35,36] rewrite,
    // the others carry over by reference into the new manifest
    v.write(Seq(Seq(35L, 3500.0), Seq(36L, 3600.0)))
    val m2 = env.warehouse.currentManifest("reading").get
    assert(m2.snap != m1.snap)
    val carried = m2.zones.filter(_.dir.startsWith(m1.snap + "/"))
    val fresh = m2.zones.filterNot(_.dir.startsWith(m1.snap + "/"))
    assert(carried.nonEmpty, s"expected carried zones in ${m2.zones}")
    assert(fresh.nonEmpty)
    assert(rows(v.read(Seq("(= seq 35)"))) == Seq(Seq(35L, 3500.0)))
    assert(rows(v.read(Seq("(= seq 5)"))) == Seq(Seq(5L, 5.0)))
    assert(rows(v.read()).size == 40)
    // append past the key range: every old zone carries, ids continue
    v.write(Seq(Seq(41L, 41.0), Seq(42L, 42.0)))
    val m3 = env.warehouse.currentManifest("reading").get
    assert(m3.zones.count(z => !z.dir.startsWith(m3.snap + "/")) >= m2.zones.size)
    assert(rows(v.read()).size == 42)
    assert(env.warehouse.maxId("reading") == 42)
    // zone-pruned delete by data: narrow batch, overlapping zones only
    assert(env.view("reading", Seq("seq")).delete(
      data = Seq(Seq(41L), Seq(42L))) == 2)
    assert(rows(v.read()).size == 40)
    assert(rows(v.read(Seq("(= seq 36)"))) == Seq(Seq(36L, 3600.0)))
  }

  test("repeated narrow merges keep the zone count stable") {
    val env = bEnv(zones = 4)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 40).map(i => Seq(i.toLong, i.toDouble)))
    val n0 = env.warehouse.currentManifest("reading").get.zones.size
    // 5 narrow updates: each replaces its overlapping zone(s) with the
    // same number of zones — no 32x splinter per merge
    (1 to 5).foreach { k =>
      v.write(Seq(Seq((30 + k).toLong, (3000 + k).toDouble)))
    }
    val m = env.warehouse.currentManifest("reading").get
    assert(m.zones.size <= n0 + 1, s"zones ballooned: ${m.zones.size} vs $n0")
    assert(rows(v.read()).size == 40)
    assert(rows(v.read(Seq("(= seq 33)"))) == Seq(Seq(33L, 3003.0)))
    // pure appends: one new zone per batch, all old zones carried
    (1 to 3).foreach { k =>
      v.write(Seq(Seq((40 + k).toLong, (40 + k).toDouble)))
    }
    val m2 = env.warehouse.currentManifest("reading").get
    assert(m2.zones.size <= n0 + 4, s"append zones: ${m2.zones.size}")
    assert(rows(v.read()).size == 43)
  }

  test("zone list self-compacts after many narrow merges") {
    val env = bEnv(zones = 4)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 40).map(i => Seq(i.toLong, i.toDouble)))
    // 50 single-row appends: each merge adds ~1 zone; without the
    // auto-trigger the list would reach 54 — the compactFactor (2x)
    // ceiling must hold after EVERY merge, not just at the end
    (1 to 50).foreach { k =>
      v.write(Seq(Seq((40 + k).toLong, (40 + k).toDouble)))
      val zs = env.warehouse.currentManifest("reading").get.zones.size
      assert(zs <= 8, s"zone list ballooned to $zs after merge $k")
    }
    assert(rows(v.read()).size == 90)
    assert(rows(v.read(Seq("(= seq 67)"))) == Seq(Seq(67L, 67.0)))
    // pruning still effective over the auto-compacted layout
    val pr = v.read(Seq("(and (>= seq 10) (<= seq 20))"))
    assert(rows(pr).size == 11)
    assert(pr.inputFiles.length < v.read().inputFiles.length)
  }

  test("compact() collapses fragmented zones into one re-clustered snapshot") {
    val env = bEnv(zones = 4)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 40).map(i => Seq(i.toLong, i.toDouble)))
    // fragment: appends + narrow updates spread zones across snapshots
    (1 to 4).foreach(k => v.write(Seq(Seq((40 + k).toLong, (40 + k).toDouble))))
    v.write(Seq(Seq(5L, 500.0)))
    val frag = env.warehouse.currentManifest("reading").get
    assert(frag.zones.map(_.dir.split("/")(0)).distinct.size > 1,
      s"expected zones across several snapshots: ${frag.zones}")
    env.warehouse.compact("reading")
    val m = env.warehouse.currentManifest("reading").get
    assert(m.zones.nonEmpty &&
      m.zones.forall(_.dir.startsWith(m.snap + "/")),
      s"compact must collapse zones into one snapshot: ${m.zones}")
    assert(m.maxId == frag.maxId) // high-water mark preserved
    assert(rows(v.read()).size == 44)
    assert(rows(v.read(Seq("(= seq 5)"))) == Seq(Seq(5L, 500.0)))
    // pruned reads still work over the compacted layout
    val pr = v.read(Seq("(and (>= seq 41) (<= seq 44))"))
    assert(rows(pr).size == 4)
    assert(pr.inputFiles.length < v.read().inputFiles.length)
  }

  test("bound extraction: shapes, params, flipping, lists") {
    val env = bEnv()
    val td = env.registry("reading")
    def b(filters: Seq[Filter], kwargs: Map[String, Any] = Map())
        : Map[String, Brin.Bounds] =
      ZonePrune.bounds(td, filters, Args(env, Nil, kwargs))
    assert(b(Seq(FilterExpr("(= seq 5)"))) ==
      Map("seq" -> Brin.Bounds(Some(5L), Some(5L), Some(Seq(5L)))))
    assert(b(Seq(FilterExpr("(and (> seq 3) (<= seq 9))"))) ==
      Map("seq" -> Brin.Bounds(Some(3L), Some(9L)))) // strict > widens
    assert(b(Seq(FilterExpr("(>= 10 seq)"))) == // operand order flips
      Map("seq" -> Brin.Bounds(None, Some(10L))))
    assert(b(Seq(FilterExpr("(in seq 4 8 2)"))) ==
      Map("seq" -> Brin.Bounds(Some(2L), Some(8L), Some(Seq(2L, 4L, 8L)))))
    assert(b(Seq(FilterExpr("(= seq {n})")), Map("n" -> 7)) ==
      Map("seq" -> Brin.Bounds(Some(7L), Some(7L), Some(Seq(7L)))))
    assert(b(Seq(FilterEq(Map("seq" -> 12)))) ==
      Map("seq" -> Brin.Bounds(Some(12L), Some(12L), Some(Seq(12L)))))
    assert(b(Seq(FilterEq(Map("seq" -> Seq(3, 1, 2))))) ==
      Map("seq" -> Brin.Bounds(Some(1L), Some(3L), Some(Seq(1L, 2L, 3L)))))
    // two filters intersect; unrelated conjuncts ignored
    assert(b(Seq(FilterExpr("(>= seq 5)"),
        FilterExpr("(and (< seq 20) (> val 0))"))) ==
      Map("seq" -> Brin.Bounds(Some(5L), Some(20L))))
    // the surrogate id is tracked alongside the key
    assert(b(Seq(FilterExpr("(and (>= seq 5) (<= id 100))"))) ==
      Map("seq" -> Brin.Bounds(Some(5L), None),
        "id" -> Brin.Bounds(None, Some(100L))))
    // unbound shapes
    assert(b(Seq(FilterExpr("(or (= seq 1) (= seq 2))"))).isEmpty)
    assert(b(Seq(FilterExpr("(< val 5)"))).isEmpty)
    assert(b(Seq(FilterExpr("(!= seq 5)"))).isEmpty)
    // positional params: bare {} needs a provable pop offset
    def bp(filters: Seq[Filter], args: Seq[Any],
        off: Option[Int]): Map[String, Brin.Bounds] =
      ZonePrune.bounds(td, filters, Args(env, args, Map()),
        Map.empty, off)
    assert(bp(Seq(FilterExpr("(= seq {})")), Seq(7), None).isEmpty)
    assert(bp(Seq(FilterExpr("(= seq {})")), Seq(7), Some(0)) ==
      Map("seq" -> Brin.Bounds(Some(7L), Some(7L), Some(Seq(7L)))))
    // offset skips the select fields' pops
    assert(bp(Seq(FilterExpr("(= seq {})")), Seq(99, 7), Some(1)) ==
      Map("seq" -> Brin.Bounds(Some(7L), Some(7L), Some(Seq(7L)))))
    // multiple bare params pop left-to-right, non-bounding ones count
    assert(bp(Seq(FilterExpr("(and (> val {}) (>= seq {}) (<= seq {}))")),
        Seq(0.5, 3, 9), Some(0)) ==
      Map("seq" -> Brin.Bounds(Some(3L), Some(9L))))
    // a second filter continues the cursor where the first stopped
    assert(bp(Seq(FilterExpr("(>= seq {})"), FilterExpr("(<= seq {})")),
        Seq(3, 9), Some(0)) ==
      Map("seq" -> Brin.Bounds(Some(3L), Some(9L))))
    // indexed {0} params are stateless — no offset needed
    assert(bp(Seq(FilterExpr("(and (>= seq {0}) (<= seq {1}))")),
        Seq(3, 9), None) ==
      Map("seq" -> Brin.Bounds(Some(3L), Some(9L))))
    // `{.attr}` pops like a bare param but resolves an attribute the
    // walker does not model: it must stay UNBOUND (binding the raw
    // positional could encode a wrong value and silently prune
    // matching zones)...
    assert(bp(Seq(FilterExpr("(= seq {.v})")),
      Seq(Map("v" -> 7)), Some(0)).isEmpty)
    // ...while its pop still advances the cursor for later bare params
    assert(bp(Seq(FilterExpr("(and (> val {.v}) (= seq {}))")),
        Seq(Map("v" -> 0.5), 7), Some(0)) ==
      Map("seq" -> Brin.Bounds(Some(7L), Some(7L), Some(Seq(7L)))))
    // a subquery form makes the cursor unknowable from there on
    assert(bp(Seq(
        FilterExpr("(exists (from reading (select seq) (where (= val {}))))"),
        FilterExpr("(= seq {})")), Seq(1.0, 7), Some(0)).isEmpty)
    // ...but bare params BEFORE it already resolved
    assert(bp(Seq(FilterExpr("(>= seq {})"),
        FilterExpr("(exists (from reading (select seq) (where (= val {}))))")),
        Seq(3, 1.0), Some(0)) ==
      Map("seq" -> Brin.Bounds(Some(3L), None)))
  }

  test("end-to-end: bare-positional range read prunes zone directories") {
    val env = bEnv(zones = 8)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    val full = v.read()
    val pruned = v.read(
      Seq("(and (>= seq {}) (<= seq {}))"), args = Seq(10, 20))
    assert(rows(pruned).map(_.head) == (10L to 20L))
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"positional bounds did not prune: ${pruned.inputFiles.length} vs " +
        s"${full.inputFiles.length}")
    // indexed form prunes identically
    val prunedIdx = v.read(
      Seq("(and (>= seq {0}) (<= seq {1}))"), args = Seq(10, 20))
    assert(prunedIdx.inputFiles.length == pruned.inputFiles.length)
    assert(rows(prunedIdx).map(_.head) == (10L to 20L))
  }

  test("composite key + id: every key column and id prune independently") {
    spark.conf.set("spark.graft.brin.zones", "8")
    val root = java.nio.file.Files.createTempDirectory("graft-brin2-").toString
    val env = Env(spark, Registry.fromYaml(
      """- table: span
        |  columns:
        |    day: bigint
        |    slot: bigint
        |    v: float
        |  key: [day, slot]
        |  use-index: brin
        |""".stripMargin), root)
    env.createTables()
    val v = env.view("span", Seq("day", "slot", "v"))
    v.write((0 until 80).map(i => Seq((i / 10).toLong, (i % 10).toLong, i.toDouble)))
    val m = env.warehouse.currentManifest("span").get
    // zones carry stats for the second key column and the id
    assert(m.zones.forall(z => z.extra.contains("slot") && z.extra.contains("id")),
      m.zones.toString)
    val all = v.read().inputFiles.length
    // leading-key range prunes
    val lead = v.read(Seq("(= day 3)"))
    assert(rows(lead).size == 10 && lead.inputFiles.length < all)
    // id bound prunes too: ids were assigned in key order, so they
    // correlate with the clustering — the BRIN sweet spot
    val byId = env.view("span", Seq("id", "day", "slot"))
      .read(Seq("(<= id 5)"))
    assert(rows(byId).size == 5 && byId.inputFiles.length < all,
      s"${byId.inputFiles.length} vs $all")
    // second-key-only bound: zones cluster by day, slot spans every
    // zone — no pruning possible, result still exact
    val bySlot = v.read(Seq("(= slot 7)"))
    assert(rows(bySlot).size == 8 && bySlot.inputFiles.length == all)
    // narrow merge keyed on both columns still carries disjoint zones
    v.write(Seq(Seq(7L, 3L, 999.0)))
    val m2 = env.warehouse.currentManifest("span").get
    assert(m2.zones.count(z => !z.dir.startsWith(m2.snap + "/")) > 0,
      m2.zones.toString)
    assert(rows(v.read(Seq("(and (= day 7) (= slot 3))"))) ==
      Seq(Seq(7L, 3L, 999.0)))
    assert(rows(v.read()).size == 80)
  }

  test("string and timestamp encodings order like Spark") {
    // UTF-8 byte order, not UTF-16: supplementary chars sort above
    // the BMP max, same as Spark's binary string comparison
    assert(Brin.cmp("a", "b") < 0)
    assert(Brin.cmp("￿", new String(Character.toChars(0x10000))) < 0)
    assert(Brin.cmp(Brin.encode(java.time.LocalDateTime.of(2024, 3, 1, 0, 0)),
      Brin.encode(java.time.LocalDateTime.of(2024, 3, 1, 0, 1))) < 0)
    assert(Brin.encode(java.time.LocalDate.of(1970, 1, 2)) == 1L)
  }

  test("streaming micro-batches merge into a brin table via zone carry-over") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    spark.conf.set("spark.graft.brin.zones", "4")
    val yaml =
      """- table: stream_archive
        |  columns:
        |    event_id: bigint
        |    event_type: varchar
        |    value: float
        |  key: [event_id]
        |  use-index: brin
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-bsink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bckpt-").toString
    val env = Env(s, Registry.fromYaml(yaml), root)
    env.createTables()
    val fields = Seq("event_id", "event_type", "value")
    def t(min: Int) = new java.sql.Timestamp((1000 + min) * 60000L)

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.EventStream.Event]
    val q = graft.streaming.EventStream
      .mergeInto(mem.toDF(), env, "stream_archive", fields, ckpt).start()
    try {
      // initial load: keys 1..40 cluster into zones
      mem.addData((1 to 40).map(i =>
        graft.streaming.EventStream.Event(i.toLong, t(i), 10, "click", i.toDouble)))
      q.processAllAvailable()
      val m1 = env.warehouse.currentManifest("stream_archive").get
      assert(m1.zones.size >= 3)
      // append-mostly micro-batch: recent keys only — every old zone
      // must carry over by reference (the streaming BRIN sweet spot)
      mem.addData(Seq(41L, 42L).map(i =>
        graft.streaming.EventStream.Event(i, t(i.toInt), 10, "click", i.toDouble)))
      q.processAllAvailable()
    } finally q.stop()
    val m2 = env.warehouse.currentManifest("stream_archive").get
    // "carried" = zones still pointing OUTSIDE the live snapshot
    assert(m2.zones.count(z => !z.dir.startsWith(m2.snap + "/")) >= 3,
      s"old zones should carry over: ${m2.zones}")
    val got = rows(env.view("stream_archive", fields).read())
    assert(got.size == 42)
    assert(rows(env.view("stream_archive", fields)
      .read(Seq("(= event_id 41)"))).head.take(2) == Seq(41L, "click"))
  }

  test("pruned reads still push filters into the parquet scan") {
    val env = bEnv(zones = 8)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    val df = v.read(Seq("(and (>= seq 10) (<= seq 14))"))
    val p = df.queryExecution.executedPlan.toString
    // zone pruning selects directories; WITHIN them Catalyst pushdown
    // + parquet row-group stats must still apply (two pruning layers)
    assert(p.contains("PushedFilters: [IsNotNull(seq), GreaterThanOrEqual(seq,10)"),
      p)
  }

  test("IN-list reads prune zones per value, not by min-max envelope") {
    val env = bEnv(zones = 8)
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 80).map(i => Seq(i.toLong, i.toDouble)))
    val all = v.read().inputFiles.length
    // two far-apart points: the envelope [2, 79] spans every zone, the
    // point set keeps only the two zones that CONTAIN a point
    val in2 = v.read(Seq("(in seq 2 79)"))
    assert(rows(in2).map(_.head).toSet == Set(2L, 79L))
    assert(in2.inputFiles.length <= all / 2,
      s"per-point pruning failed: ${in2.inputFiles.length} of $all")
    // equality-map list form prunes the same way
    val eqm = v.read(Seq(FilterEq(Map("seq" -> Seq(2, 79)))))
    assert(rows(eqm).map(_.head).toSet == Set(2L, 79L))
    assert(eqm.inputFiles.length == in2.inputFiles.length)
    // point sets intersect with ranges: the surviving point decides
    val mixed = v.read(Seq("(and (in seq 2 79) (> seq 50))"))
    assert(rows(mixed) == Seq(Seq(79L, 79.0)))
    assert(mixed.inputFiles.length <= in2.inputFiles.length)
    // disjoint point conjuncts are provably empty: zero files
    val none = v.read(Seq("(and (= seq 2) (= seq 79))"))
    assert(rows(none).isEmpty && none.inputFiles.isEmpty)
  }

  test("z-order compaction: secondary-key reads prune, content exact") {
    val env = bEnv(zones = 8)
    val v = env.view("grid", Seq("a", "b", "w"))
    val n = 512
    // b = a permutation of a's domain (167 coprime with 512), so the
    // two columns are order-independent: leading-key clustering makes
    // every zone span b's full range
    v.write((0 until n).map(i =>
      Seq(i.toLong, ((i * 167) % n).toLong, i.toDouble)))
    val all = v.read().inputFiles.length
    assert(all >= 4, s"expected several zone files, got $all")
    val bFilter: Seq[Filter] = Seq(FilterExpr("(and (>= b 100) (< b 110))"))
    val before = v.read(bFilter)
    val want = rows(before).toSet
    assert(want.size == 10)
    assert(before.inputFiles.length == all,
      s"pre-zorder a b-bound cannot prune: ${before.inputFiles.length} vs $all")

    env.warehouse.compactZOrder("grid", Seq("a", "b"))
    val m = env.warehouse.currentManifest("grid").get
    assert(m.zorder == Seq("a", "b"))
    assert(m.zones.nonEmpty && m.zones.forall(_.dir.startsWith(m.snap + "/")))
    // same rows, now through a b-pruned read — AND the leading key
    // still prunes (both columns get ~√-fraction zone extents)
    val after = v.read(bFilter)
    assert(rows(after).toSet == want)
    assert(after.inputFiles.length <= all / 2,
      s"post-zorder b-bound should prune: ${after.inputFiles.length} vs $all")
    val aRead = v.read(Seq("(and (>= a 100) (< a 110))"))
    assert(rows(aRead).size == 10)
    assert(aRead.inputFiles.length < all,
      s"post-zorder a-bound should still prune: ${aRead.inputFiles.length}")
  }

  test("z-order is a table property: merges carry it, compact re-applies it") {
    val env = bEnv(zones = 8)
    val v = env.view("grid", Seq("a", "b", "w"))
    val n = 512
    v.write((0 until n).map(i =>
      Seq(i.toLong, ((i * 167) % n).toLong, i.toDouble)))
    env.warehouse.compactZOrder("grid", Seq("a", "b"))
    val all = env.warehouse.currentManifest("grid").get.zones.size
    // a narrow merge writes its slice leading-key-clustered but must
    // keep the property and the content
    v.write(Seq(Seq(100L, (100L * 167) % n, -1.0)))
    val m1 = env.warehouse.currentManifest("grid").get
    assert(m1.zorder == Seq("a", "b"))
    assert(rows(v.read(Seq("(= a 100)"))).head(2) == -1.0)
    assert(rows(v.read()).size == n)
    // compact() re-clusters on the RECORDED z-order: zones collapse
    // into one snapshot and the b-bound prune stays tight
    env.warehouse.compact("grid")
    val m2 = env.warehouse.currentManifest("grid").get
    assert(m2.zorder == Seq("a", "b"))
    assert(m2.zones.forall(_.dir.startsWith(m2.snap + "/")))
    val b = v.read(Seq("(and (>= b 100) (< b 110))"))
    assert(rows(b).size == 10)
    assert(b.inputFiles.length <= (all max 2) / 2,
      s"re-applied z-order should prune: ${b.inputFiles.length} of $all")
    // Nil clears the property: back to plain leading-key compaction
    env.warehouse.compactZOrder("grid", Nil)
    val m3 = env.warehouse.currentManifest("grid").get
    assert(m3.zorder.isEmpty)
    assert(rows(v.read()).size == n)
  }

  test("z-order validation: non-brin, single column, untracked column") {
    val env = bEnv()
    val g = env.view("flat", Seq("k", "v"))
    g.write(Seq(Seq(1L, 1.0)))
    val e1 = intercept[IllegalArgumentException](
      env.warehouse.compactZOrder("flat", Seq("k", "id")))
    assert(e1.getMessage.contains("brin"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      env.warehouse.compactZOrder("grid", Seq("a")))
    assert(e2.getMessage.contains("two columns"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      env.warehouse.compactZOrder("grid", Seq("a", "w")))
    assert(e3.getMessage.contains("zone stats"), e3.getMessage)
  }

  test("snapshot time travel on a brin table hides the zone column") {
    val env = bEnv()
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 10).map(i => Seq(i.toLong, i.toDouble)))
    val snap = env.warehouse.snapshots("reading").last
    val df = env.warehouse.readSnapshot("reading", snap)
    assert(!df.columns.contains("__z"))
    assert(df.count() == 10)
  }

  test("time travel refuses a zone merge's snapshot: it holds only the rewritten zones") {
    val env = bEnv()
    val v = env.view("reading", Seq("seq", "val"))
    v.write((1 to 10).map(i => Seq(i.toLong, i.toDouble)))
    // a disjoint key range rewrites no zone: batch 1's zones carry over
    // by reference and the new snapshot holds batch 2 only
    v.write((11 to 20).map(i => Seq(i.toLong, i.toDouble)))
    assert(rows(v.read()).size == 20)
    val last = env.warehouse.snapshots("reading").last
    val e1 = intercept[IllegalArgumentException](env.warehouse.readSnapshot("reading", last))
    assert(e1.getMessage.contains("per-zone delta"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](env.diffSnapshots("reading"))
    assert(e2.getMessage.contains("per-zone delta"), e2.getMessage)
  }
}
