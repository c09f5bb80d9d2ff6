package graft

/** Cross-write transactions (reference commit/rollback per context,
  * tanker/context.py:238-248): buffered pointer swaps, all-or-nothing
  * visibility, read-your-writes inside the body, journaled
  * roll-forward recovery. */
class TxnSpec extends SparkSpec {

  test("commit makes writes to several tables visible together") {
    val env = freshEnv()
    val before = rows(env.view("country", Seq("name")).read()).size
    env.transaction {
      env.view("country", Seq("name")).write(Seq(Seq("Italy")))
      env.view("member", Seq("registration_code", "name"))
        .write(Seq(Seq("077", "Zoe")))
    }
    assert(rows(env.view("country", Seq("name")).read()).size == before + 1)
    assert(env.fetch("member", """(= registration_code "077")""").isDefined)
  }

  test("rollback on exception leaves every table untouched") {
    val env = freshEnv()
    val countries = rows(env.view("country", Seq("name")).read()).map(_.head).toSet
    val members = rows(env.view("member", Seq("name")).read()).size
    intercept[IllegalArgumentException] {
      env.transaction {
        env.view("country", Seq("name")).write(Seq(Seq("Italy")))
        env.view("member", Seq("name")).write(Seq(Seq("NoKey"))) // missing key -> raises
      }
    }
    assert(rows(env.view("country", Seq("name")).read())
      .map(_.head).toSet == countries, "first write leaked out of the txn")
    assert(rows(env.view("member", Seq("name")).read()).size == members)
  }

  test("in-txn reads see buffered writes (read-your-writes)") {
    val env = freshEnv()
    env.transaction {
      env.view("country", Seq("name")).write(Seq(Seq("Italy")))
      // the buffered state is visible to reads on this thread...
      assert(rows(env.view("country", Seq("name")).read())
        .map(_.head).contains("Italy"))
      // ...and to a dependent FK write in the same txn
      env.view("team", Seq("name", "country.name"))
        .write(Seq(Seq("Verdi", "Italy")))
    }
    assert(env.fetch("team", """(= name "Verdi")""").isDefined)
  }

  test("sequential writes to ONE table inside a txn stack correctly") {
    val env = freshEnv()
    env.transaction {
      env.view("country", Seq("name")).write(Seq(Seq("Italy")))
      env.view("country", Seq("name")).write(Seq(Seq("Spain")))
    }
    val got = rows(env.view("country", Seq("name")).read()).map(_.head).toSet
    assert(got.contains("Italy") && got.contains("Spain"), got.toString)
  }

  test("other threads see the pre-txn state until commit") {
    val env = freshEnv()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      env.transaction {
        env.view("country", Seq("name")).write(Seq(Seq("Italy")))
        // the buffer is thread-local: a concurrent reader stays on the
        // committed (pre-txn) pointer
        val seen = pool.submit(new java.util.concurrent.Callable[Set[Any]] {
          def call(): Set[Any] =
            rows(env.view("country", Seq("name")).read()).map(_.head).toSet
        }).get()
        assert(!seen.contains("Italy"),
          s"uncommitted write visible cross-thread: $seen")
      }
      assert(rows(env.view("country", Seq("name")).read())
        .map(_.head).contains("Italy"))
    } finally { pool.shutdown(): Unit }
  }

  test("nested transactions raise") {
    val env = freshEnv(seedTeams = false)
    intercept[IllegalArgumentException] {
      env.transaction { env.transaction { () } }
    }
  }

  test("transaction spans plain, bucketed and zoned pointer formats") {
    spark.conf.set("spark.graft.brin.zones", "4")
    val root = java.nio.file.Files.createTempDirectory("graft-txn3-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: t_plain
        |  columns: {name: varchar, v: bigint}
        |  key: [name]
        |- table: t_bucket
        |  columns: {code: varchar, v: bigint}
        |  key: [code]
        |  buckets: 8
        |- table: t_zone
        |  columns: {seq: bigint, v: bigint}
        |  key: [seq]
        |  use-index: brin
        |""".stripMargin), root)
    env.createTables()
    env.transaction {
      env.view("t_plain", Seq("name", "v")).write(Seq(Seq("a", 1L)))
      env.view("t_bucket", Seq("code", "v")).write(Seq(Seq("x", 2L)))
      env.view("t_zone", Seq("seq", "v")).write(
        (1 to 20).map(i => Seq(i.toLong, i.toLong)))
      // a MERGE against the buffered zoned state inside the same txn
      env.view("t_zone", Seq("seq", "v")).write(Seq(Seq(5L, 500L)))
    }
    assert(rows(env.view("t_plain", Seq("v")).read()) == Seq(Seq(1L)))
    assert(rows(env.view("t_bucket", Seq("v")).read()) == Seq(Seq(2L)))
    assert(rows(env.view("t_zone", Seq("seq", "v"))
      .read(Seq("(= seq 5)"))) == Seq(Seq(5L, 500L)))
    assert(rows(env.view("t_zone", Seq("seq")).read()).size == 20)
    // a failing txn touching all three leaves each untouched
    intercept[RuntimeException] {
      env.transaction {
        env.view("t_plain", Seq("name", "v")).write(Seq(Seq("b", 9L)))
        env.view("t_bucket", Seq("code", "v")).write(Seq(Seq("y", 9L)))
        env.view("t_zone", Seq("seq", "v")).write(Seq(Seq(99L, 9L)))
        throw new RuntimeException("boom")
      }
    }
    assert(rows(env.view("t_plain", Seq("name")).read()).size == 1)
    assert(rows(env.view("t_bucket", Seq("code")).read()).size == 1)
    assert(rows(env.view("t_zone", Seq("seq")).read()).size == 20)
  }

  /** The root catalog's entries: table -> manifest JSON text. */
  private def catalog(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](
      java.nio.file.Files.readString(java.nio.file.Paths.get(root, "_ROOT")))
      .asScala.map { case (t, m) => t -> m.toString }.toMap
  }

  /** Replace the root catalog by hand, as a crash would leave it. */
  private def plantCatalog(root: String, entries: Map[String, String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_ROOT"),
      graft.view.Json.write(entries).getBytes("UTF-8"))

  test("journal roll-forward applies a crashed commit") {
    val env = freshEnv()
    val root = env.warehouse.root
    // capture the pointer a committed write installed, then undo it
    // manually to simulate a crash after journaling, before the replace
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    val committed = catalog(root)("country")
    // journal claiming the commit, root rolled back to an older snap
    val stale = committed.replaceAll(
      "\"snap\":\\s*\"snap-(\\d+)\"", "\"snap\": \"snap-0\"")
    plantCatalog(root, catalog(root) + ("country" -> stale))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_TXN-1"),
      graft.view.Json.write(Map("country" -> committed)).getBytes("UTF-8"))
    env.warehouse.recoverTransactions()
    val healed = catalog(root)("country")
    assert(healed == committed, s"roll-forward did not apply: $healed")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_TXN-1")), "journal not cleared")
    assert(rows(env.view("country", Seq("name")).read())
      .map(_.head).contains("Italy"))
  }

  test("concurrent reader never observes a partial multi-table commit") {
    // The old per-table-pointer apply loop could expose table A's new
    // pointer with table B's old one mid-commit; the _ROOT catalog
    // swap makes that impossible. The reader polls pointer state (no
    // Spark jobs) so it samples INSIDE the commit window thousands of
    // times. Each txn advances both tables' snap numbers in lockstep,
    // so observing t_a ahead of t_b (read in that order) = a torn
    // commit.
    val root = java.nio.file.Files.createTempDirectory("graft-txnatomic-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(
      """- table: t_a
        |  columns: {name: varchar, v: bigint}
        |  key: [name]
        |- table: t_b
        |  columns: {name: varchar, v: bigint}
        |  key: [name]
        |""".stripMargin), root)
    env.createTables()
    def snapNum(t: String): Long = env.warehouse.currentManifest(t)
      .map(_.snap.stripPrefix("snap-").toLong).getOrElse(-1L)
    @volatile var done = false
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    // both tables exist from createTables on: a table seen missing
    // means a reader met the catalog absent or unreadable mid-commit
    val reader = new Thread(() => {
      while (!done && torn.get == null) {
        try {
          val a = snapNum("t_a") // t_a is committed first in the buffer order
          val b = snapNum("t_b")
          if (a == -1 || b == -1) torn.set(s"table missing: t_a $a, t_b $b")
          else if (b < a) torn.set(s"t_a at snap-$a but t_b at snap-$b")
        } catch { case e: Exception => torn.set(s"catalog read failed: $e") }
      }
    })
    reader.start()
    try (1 to 4).foreach { k =>
      env.transaction {
        env.view("t_a", Seq("name", "v")).write(Seq(Seq("x", k.toLong)))
        env.view("t_b", Seq("name", "v")).write(Seq(Seq("x", k.toLong)))
      }
    } finally { done = true; reader.join() }
    assert(torn.get == null, s"partial commit observed: ${torn.get}")
    assert(snapNum("t_a") == snapNum("t_b"))
  }

  test("torn or empty journal is discarded, not fatal") {
    // A crash DURING the journal write leaves an unparsable file; the
    // journal is fully written before any pointer applies, so that
    // provably corresponds to an uncommitted txn — recover must heal,
    // not throw (and createTables, which recovers first, must open).
    val env = freshEnv(seedTeams = false)
    val root = env.warehouse.root
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_TXN-111"), Array.emptyByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_TXN-222"),
      "{\"country\": \"{unterminated".getBytes("UTF-8"))
    env.warehouse.recoverTransactions()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_TXN-111")), "empty journal kept")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_TXN-222")), "torn journal kept")
    // warehouse still opens and reads normally
    env.createTables()
    assert(rows(env.view("country", Seq("name")).read()).size == 3)
  }

  test("journal roll-forward heals a stale root catalog") {
    // Crash simulated at the root level: the journal claims a commit
    // the _ROOT catalog never received. Recovery must re-install the
    // journaled pointers into the root.
    val env = freshEnv(seedTeams = false)
    val root = env.warehouse.root
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    val committed = catalog(root)("country")
    // snap-1 is the retained seed snapshot (snap-0 is gc'd)
    val stale = committed.replaceAll(
      "\"snap\":\\s*\"snap-(\\d+)\"", "\"snap\": \"snap-1\"")
    // roll the ROOT back to the stale pointer. The catalog is written
    // without a checksum sidecar, so the hand-written root is read as is
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "._ROOT.crc")))
    plantCatalog(root, Map("country" -> stale))
    assert(!rows(env.view("country", Seq("name")).read())
      .map(_.head).contains("Italy"), "stale root not authoritative")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_TXN-7"),
      graft.view.Json.write(Map("country" -> committed)).getBytes("UTF-8"))
    env.warehouse.recoverTransactions()
    assert(rows(env.view("country", Seq("name")).read())
      .map(_.head).contains("Italy"), "root not rolled forward")
  }

  test("streaming merge sinks refuse to run inside an ambient transaction") {
    // foreachBatch sinks run on Structured Streaming's own thread and
    // never inherit the caller's transaction — but invoking the sink
    // on a txn-holding thread (the one-refactor-away hazard) would
    // buffer the table write into a transaction the sink never
    // commits. Pin the guard.
    val env = freshEnv(seedTeams = false)
    val sink = graft.streaming.EventStream.mergeSink(
      env, "country", Seq("name"))
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("Italy")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType))))
    env.transaction {
      val e = intercept[IllegalArgumentException] { sink(batch, 0L) }
      assert(e.getMessage.contains("transaction"), e.getMessage)
    }
    // outside a transaction the same sink merges normally
    sink(batch, 1L)
    assert(rows(env.view("country", Seq("name")).read())
      .map(_.head).contains("Italy"))
  }

  test("rolled-back snapshots are reclaimed by later writes' gc") {
    val env = freshEnv(seedTeams = false)
    intercept[RuntimeException] {
      env.transaction {
        env.view("country", Seq("name")).write(Seq(Seq("Ghost")))
        throw new RuntimeException("boom")
      }
    }
    // the orphaned snapshot exists on disk but is invisible
    assert(!rows(env.view("country", Seq("name")).read())
      .map(_.head).contains("Ghost"))
    // later writes proceed normally over the orphan
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    env.view("country", Seq("name")).write(Seq(Seq("Spain")))
    env.view("country", Seq("name")).write(Seq(Seq("Malta")))
    val got = rows(env.view("country", Seq("name")).read()).map(_.head).toSet
    assert(Set[Any]("Italy", "Spain", "Malta").subsetOf(got), got.toString)
  }

  test("a rolled-back snapshot name reused by the next write reads the new rows") {
    val env = freshEnv(seedTeams = false)
    val v = env.view("country", Seq("name"))
    var buffered = ""
    intercept[RuntimeException] {
      env.transaction {
        v.write(Seq(Seq("Ghost")))
        buffered = env.warehouse.currentManifest("country").get.snap
        assert(rows(v.read()).map(_.head).contains("Ghost"))
        throw new RuntimeException("boom")
      }
    }
    v.write(Seq(Seq("Italy")))
    assert(env.warehouse.currentManifest("country").get.snap == buffered,
      "the next write reuses the rolled-back snapshot name")
    val got = rows(v.read()).map(_.head).toSet
    assert(got.contains("Italy") && !got.contains("Ghost"), got.toString)
  }

  test("gc leaves no memoized relation over a deleted snapshot") {
    val yaml =
      """- table: plain
        |  columns:
        |    k: varchar
        |  key: [k]
        |- table: bk
        |  columns:
        |    k: varchar
        |  key: [k]
        |  buckets: 4
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-memo-gc-").toString
    val env = Env(spark, graft.schema.Registry.fromYaml(yaml), root)
    env.createTables()
    for (t <- Seq("plain", "bk"); i <- 1 to 5) {
      env.view(t, Seq("k")).write(Seq(Seq(s"k$i")))
      assert(rows(env.view(t, Seq("k")).read()).size == i)
    }
    val sets = env.warehouse.memoizedReadSets
    assert(sets.nonEmpty)
    val fsys = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (set <- sets; p <- set)
      assert(fsys.exists(new org.apache.hadoop.fs.Path(p)), s"memo entry over deleted $p")
    // the live state is what the memo serves
    for (t <- Seq("plain", "bk"))
      assert(sets.exists(_.exists(_.contains(s"/$t/snap-"))), t)
  }

  test("backup: the copy is a functional warehouse with the txn's cut") {
    val env = freshEnv()
    // multi-table txn first: the pinned catalog must carry BOTH sides
    env.transaction {
      env.view("country", Seq("name")).write(Seq(Seq("Italy")))
      env.view("member", Seq("registration_code", "name"))
        .write(Seq(Seq("088", "Yve")))
    }
    // fragment a bucketed-ish history: several sequential writes leave
    // pointers across snapshots; backup must chase every referenced dir
    env.view("country", Seq("name")).write(Seq(Seq("Spain")))
    val dest = java.nio.file.Files
      .createTempDirectory("graft-backup-").toString + "/wh"
    env.warehouse.backup(dest)
    // restore = open an Env at the backup root with the same registry
    val restored = Env(env.spark,
      graft.schema.Registry.fromYaml(SparkSpec.baseYaml), dest)
    def names(e: Env) =
      rows(e.view("country", Seq("name")).read()).map(_.head).toSet
    assert(names(restored) == names(env), names(restored).toString)
    assert(rows(restored.view("member", Seq("registration_code", "name"))
      .read()).toSet ==
      rows(env.view("member", Seq("registration_code", "name")).read()).toSet)
    // the backup is INDEPENDENT: writes to the source don't leak in
    env.view("country", Seq("name")).write(Seq(Seq("Malta")))
    assert(!names(restored).contains("Malta"))
    // and the backup itself accepts writes (it is a real warehouse)
    restored.view("country", Seq("name")).write(Seq(Seq("Norway")))
    assert(names(restored).contains("Norway") && !names(env).contains("Norway"))
    // refusing to clobber an existing warehouse root
    val e = intercept[IllegalArgumentException](env.warehouse.backup(dest))
    assert(e.getMessage.contains("already holds"), e.getMessage)
  }

  test("fsck: clean on healthy state; flags orphans/tmp/journal/missing; reclaim") {
    import org.apache.hadoop.fs.Path
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    env.view("country", Seq("name")).write(Seq(Seq("Spain")))
    assert(env.warehouse.fsck().isEmpty)
    val root = new Path(env.warehouse.root)
    val fs = root.getFileSystem(env.spark.sparkContext.hadoopConfiguration)
    // orphan: numbered BELOW every live snap so the 2-newest grace
    // never shields it; referenced by nothing
    val orphan = new Path(root, "country/snap-0")
    fs.mkdirs(orphan)
    val of = fs.create(new Path(orphan, "part-junk.parquet"), true)
    of.write(new Array[Byte](128)); of.close()
    fs.create(new Path(root, "_ROOT.tmp-1"), true).close()
    val jf = fs.create(new Path(root, "_TXN-999"), true)
    jf.write("~garbage".getBytes("UTF-8")); jf.close()
    val found = env.warehouse.fsck()
    assert(found.count(_.kind == "orphan-snapshot") == 1, found.toString)
    assert(found.find(_.kind == "orphan-snapshot").get.bytes >= 128)
    assert(found.exists(_.kind == "stale-tmp") &&
      found.exists(_.kind == "unapplied-journal"), found.toString)
    assert(!found.exists(_.kind == "foreign-lease"), found.toString)
    // reclaim removes the provable garbage, reports it one last time,
    // and never touches the journal (recovery owns that)
    val rec = env.warehouse.fsck(reclaim = true)
    assert(rec.map(_.kind).toSet ==
      Set("orphan-snapshot", "stale-tmp", "unapplied-journal"), rec.toString)
    assert(!fs.exists(orphan))
    val again = env.warehouse.fsck()
    assert(again.map(_.kind) == Seq("unapplied-journal"), again.toString)
    fs.delete(new Path(root, "_TXN-999"), false)
    // an index dir under the root with a corrupt meta sidecar is
    // flagged (structural parse check; torn/garbled metadata means
    // every probe of the index fails or misreads parameters)
    val idxDir = new Path(root, "someidx")
    fs.mkdirs(idxDir)
    val mf = fs.create(new Path(idxDir, "_graft_index_meta.json"), true)
    mf.write("{unterminated".getBytes("UTF-8")); mf.close()
    val im = env.warehouse.fsck()
    assert(im.exists(_.kind == "index-meta"), im.toString)
    fs.delete(idxDir, true)
    // a referenced snapshot missing on storage is a broken reference
    val live = env.warehouse.snapshots("country").last
    fs.delete(new Path(root, s"country/$live"), true)
    val broken = env.warehouse.fsck()
    assert(broken.exists(i => i.kind == "missing-snapshot" &&
      i.table == "country"), broken.toString)
  }

  test("backup round-trips bucketed and zoned layouts after partial merges") {
    import graft.schema.Registry
    val yaml =
      """- table: fact
        |  columns:
        |    code: varchar
        |    val: float
        |  key: [code]
        |  buckets: 8
        |- table: reading
        |  columns:
        |    seq: bigint
        |    val: float
        |  key: [seq]
        |  use-index: brin
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-bkz-").toString
    val env = Env(spark, Registry.fromYaml(yaml), root)
    env.createTables()
    val fv = env.view("fact", Seq("code", "val"))
    fv.write((1 to 60).map(i => Seq(s"c$i", i.toDouble)))
    // partial merge: the manifest now references buckets across TWO
    // snapshots — the multi-snap shape the file enumeration must chase
    fv.write(Seq(Seq("c1", 99.0), Seq("x61", 61.0)))
    val rv = env.view("reading", Seq("seq", "val"))
    rv.write((1L to 500L).map(i => Seq(i, i.toDouble)))
    rv.write((480L to 520L).map(i => Seq(i, i * 2.0))) // zone overlap merge
    val dest = java.nio.file.Files
      .createTempDirectory("graft-bkz-dst-").toString + "/wh"
    env.warehouse.backup(dest)
    val back = Env(spark, Registry.fromYaml(yaml), dest)
    assert(rows(back.view("fact", Seq("code", "val")).read()).toSet ==
      rows(fv.read()).toSet)
    assert(rows(back.view("reading", Seq("seq", "val")).read()).toSet ==
      rows(rv.read()).toSet)
    // the restored bucketed manifest still prunes: a point read on the
    // copy opens bucket dirs, proving the relative layout survived
    assert(rows(back.view("fact", Seq("val"))
      .read(Seq(graft.view.FilterExpr("""(= code "c1")""")))).map(_.head)
      == Seq(99.0f))
    // zone map survives too
    assert(back.warehouse.currentManifest("reading").get.zones.nonEmpty)
    assert(back.warehouse.fsck().isEmpty)
  }

  test("incremental backup refreshes a standby in place, copying only deltas") {
    import org.apache.hadoop.fs.Path
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    val dest = java.nio.file.Files
      .createTempDirectory("graft-standby-").toString + "/wh"
    env.warehouse.backup(dest)
    def standby() = Env(env.spark,
      graft.schema.Registry.fromYaml(SparkSpec.baseYaml), dest)
    def names(e: Env) =
      rows(e.view("country", Seq("name")).read()).map(_.head).toSet
    assert(names(standby()) == names(env))
    // record every standby file's mtime: the refresh must not rewrite
    // bytes it already holds
    val dfs = new Path(dest).getFileSystem(
      env.spark.sparkContext.hadoopConfiguration)
    def mtimes(): Map[String, Long] = {
      val it = dfs.listFiles(new Path(dest), true)
      val b = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) { val st = it.next()
        b(st.getPath.toString) = st.getModificationTime }
      b.toMap
    }
    val before = mtimes()
    Thread.sleep(1100) // local-fs mtime granularity
    // source moves on; the standby refresh picks up ONLY the delta
    env.view("country", Seq("name")).write(Seq(Seq("Spain")))
    env.warehouse.backup(dest, incremental = true)
    assert(names(standby()) == names(env))
    val after = mtimes()
    val rewritten = before.keys.filter(k =>
      after.contains(k) && after(k) != before(k) &&
        k.contains("/snap-")).toSeq
    assert(rewritten.isEmpty, s"pre-existing snapshot files rewritten: $rewritten")
    // plain (non-incremental) backup into the standby still refuses
    val e = intercept[IllegalArgumentException](env.warehouse.backup(dest))
    assert(e.getMessage.contains("already holds"), e.getMessage)
    // stranded standby snapshots age out of the 2-newest grace and
    // become fsck-reclaimable garbage — the documented lifecycle
    env.view("country", Seq("name")).write(Seq(Seq("Malta")))
    env.view("country", Seq("name")).write(Seq(Seq("Kenya")))
    env.warehouse.backup(dest, incremental = true)
    assert(names(standby()) == names(env))
    val sb = standby()
    val orphans = sb.warehouse.fsck().filter(_.kind == "orphan-snapshot")
    assert(orphans.nonEmpty, "expected stranded standby snapshots")
    sb.warehouse.fsck(reclaim = true)
    assert(sb.warehouse.fsck().isEmpty)
    assert(names(standby()) == names(env))
  }

  test("backup refuses loudly when a pinned snapshot vanished (gc race)") {
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    // simulate a concurrent writer's gc reclaiming the pinned snapshot
    // between the catalog pin and the copy: the backup must throw, not
    // write an empty snapshot dir and report success over a hole
    val snap = env.warehouse.snapshots("country").last
    val snapDir = java.nio.file.Paths.get(
      env.warehouse.root.stripPrefix("file:"), "country", snap)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(snapDir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    val dest = java.nio.file.Files
      .createTempDirectory("graft-holebak-").toString + "/wh"
    val e = intercept[java.io.IOException](env.warehouse.backup(dest))
    assert(e.getMessage.contains("vanished"), e.getMessage)
    // nothing half-written was promoted to a catalog
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dest, "_ROOT")))
  }

  test("fsck flags an index meta violating its family's invariants") {
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    // plant a structurally valid JSON meta whose ivf invariants are
    // broken: 2 centroids against nlist 3, one centroid 3-wide vs dims 4
    val bad = java.nio.file.Paths.get(
      env.warehouse.root.stripPrefix("file:"), "badidx")
    java.nio.file.Files.createDirectories(bad)
    java.nio.file.Files.writeString(
      bad.resolve("_graft_index_meta.json"),
      """{"kind": "ivf", "dims": 4, "nlist": 3,
        |"centroids": [[0,0,0,0],[1,1,1]]}""".stripMargin)
    val metaIssues = env.warehouse.fsck().filter(_.kind == "index-meta")
    assert(metaIssues.exists(_.detail.contains("centroid count 2 != nlist 3")),
      metaIssues.toString)
    assert(metaIssues.exists(_.detail.contains("width differs from dims")),
      metaIssues.toString)
    // an unknown kind is flagged too (a probe would dispatch nowhere)
    java.nio.file.Files.writeString(
      bad.resolve("_graft_index_meta.json"), """{"kind": "hnsw"}""")
    assert(env.warehouse.fsck().exists(i =>
      i.kind == "index-meta" && i.detail.contains("unknown index kind")))
    // meta text from earlier builds is clean: a pre-kind LSH meta, an
    // IVF meta without drift tallies, a centroid value snakeyaml types
    // as a String (1.23E7: no signed exponent)
    for (text <- Seq(
        """{"dims": 4, "numPlanes": 8, "bandBits": 4, "buckets": 16, "seed": 42}""",
        """{"kind": "ivf", "dims": 2, "nlist": 2, "seed": 42,
          |"centroids": [[0.5, 1.23E7], [1, 0]]}""".stripMargin)) {
      java.nio.file.Files.writeString(bad.resolve("_graft_index_meta.json"), text)
      val found = env.warehouse.fsck()
      assert(!found.exists(_.kind == "index-meta"), s"$text: $found")
    }
  }

  test("fsck reclaims crashed incremental index-refresh staging dirs") {
    val env = freshEnv()
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    val root = java.nio.file.Paths.get(env.warehouse.root.stripPrefix("file:"))
    val (live, scratch, aside) = (root.resolve("myidx"),
      root.resolve("myidx__retrain"), root.resolve("myidx__old"))
    def plant(d: java.nio.file.Path, meta: Boolean): Unit = {
      java.nio.file.Files.createDirectories(d)
      if (meta) java.nio.file.Files.writeString(d.resolve("_graft_index_meta.json"),
        """{"kind": "lsh", "dims": 4, "numPlanes": 8, "bandBits": 4,
          |"buckets": 16, "seed": 42}""".stripMargin)
      java.nio.file.Files.write(d.resolve("part-0.parquet"), new Array[Byte](32))
    }
    def exists(d: java.nio.file.Path) = java.nio.file.Files.exists(d)
    // live index present: a retrain or refresh that died before its
    // install leaves the scratch (no meta yet), one that died after it
    // leaves the retired aside
    plant(live, meta = true); plant(scratch, meta = false); plant(aside, meta = true)
    // a table whose name merely ends in a sibling suffix is no sibling
    java.nio.file.Files.createDirectories(root.resolve("notes__old"))
    // mid-swap state must NOT read as a live index (backup --indexes
    // would otherwise copy the torn scratch as an index)
    assert(env.warehouse.discoverIndexDirs().map(_.getName) == Seq("myidx"))
    val found = env.warehouse.fsck()
    assert(found.map(_.kind) == Seq("stale-tmp", "stale-tmp") &&
      found.forall(_.bytes > 0), found.toString)
    env.warehouse.fsck(reclaim = true)
    assert(exists(live) && !exists(scratch) && !exists(aside))
    assert(env.warehouse.fsck().isEmpty)
    // live missing: a crash between the swap's two renames leaves the
    // complete old index aside and the complete new one in the scratch.
    // The aside is the index: fsck reports it, --reclaim heals it and
    // never deletes it
    java.nio.file.Files.move(live, aside)
    plant(scratch, meta = true)
    assert(env.warehouse.discoverIndexDirs().isEmpty)
    val torn = env.warehouse.fsck()
    assert(torn.map(_.kind).sorted == Seq("interrupted-swap", "stale-tmp"),
      torn.toString)
    assert(exists(aside) && !exists(live), "the audit must not mutate")
    env.warehouse.fsck(reclaim = true)
    assert(exists(live) && !exists(scratch) && !exists(aside))
    assert(env.warehouse.discoverIndexDirs().map(_.getName) == Seq("myidx"))
    assert(env.warehouse.fsck().isEmpty)
  }

  private val legacyYaml =
    """- table: t_plain
      |  columns: {name: varchar, v: bigint}
      |  key: [name]
      |- table: t_bucket
      |  columns: {code: varchar, v: bigint}
      |  key: [code]
      |  buckets: 4
      |""".stripMargin

  /** Every file under `root` whose name mentions the pre-catalog
    * pointer (the pointer, its tmp files, their checksum sidecars). */
  private def legacyFiles(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.toString).filter(_.contains("_CURRENT")).toSeq
  }

  test("a pre-catalog layout is refused read-only and migrated by createTables") {
    import graft.schema.Registry
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-legacy-").toString
    val src = Env(spark, Registry.fromYaml(legacyYaml), root)
    src.createTables()
    src.view("t_plain", Seq("name", "v")).write((1 to 30).map(i => Seq(s"n$i", i.toLong)))
    src.view("t_bucket", Seq("code", "v")).write((1 to 40).map(i => Seq(s"c$i", i.toLong)))
    def contents(e: Env, t: String, k: String) =
      rows(e.view(t, Seq("id", k, "v")).read()).toSet
    val planted = Map("t_plain" -> contents(src, "t_plain", "name"),
      "t_bucket" -> contents(src, "t_bucket", "code"))
    val maxIds = Seq("t_plain", "t_bucket").map(t => t -> src.warehouse.maxId(t)).toMap
    assert(maxIds == Map("t_plain" -> 30L, "t_bucket" -> 40L), maxIds)
    // rewrite the pointers as the pre-catalog layout: no _ROOT, a plain
    // snapshot name for the plain table, a JSON manifest for the
    // bucketed one, each in its table's _CURRENT
    val cat = catalog(root)
    val plainSnap = "\"snap\":\\s*\"(snap-\\d+)\"".r
      .findFirstMatchIn(cat("t_plain")).get.group(1)
    Files.writeString(Paths.get(root, "t_plain", "_CURRENT"), plainSnap)
    Files.writeString(Paths.get(root, "t_bucket", "_CURRENT"), cat("t_bucket"))
    Files.delete(Paths.get(root, "_ROOT"))
    // opened without writing, the layout is refused, never read as empty
    val ro = Env(spark, Registry.fromYaml(legacyYaml), root)
    for (t <- Seq("t_plain", "t_bucket")) {
      val e = intercept[IllegalStateException](ro.view(t, Seq("v")).read().collect())
      assert(e.getMessage.contains("tk init") && e.getMessage.contains(t), e.getMessage)
    }
    val e = intercept[IllegalStateException](ro.warehouse.maxId("t_plain"))
    assert(e.getMessage.contains("tk init"), e.getMessage)
    // createTables adopts both pointers in one catalog and deletes the files
    val env = Env(spark, Registry.fromYaml(legacyYaml), root)
    env.createTables()
    assert(contents(env, "t_plain", "name") == planted("t_plain"))
    assert(contents(env, "t_bucket", "code") == planted("t_bucket"))
    assert(Seq("t_plain", "t_bucket").map(t => t -> env.warehouse.maxId(t)).toMap == maxIds)
    assert(catalog(root).keySet == Set("t_plain", "t_bucket"))
    assert(legacyFiles(root).isEmpty, legacyFiles(root).toString)
    // the migrated tables take writes; new ids continue the mark
    env.view("t_plain", Seq("name", "v")).write(Seq(Seq("n31", 31L)))
    assert(rows(env.view("t_plain", Seq("id")).read(Seq("(= name \"n31\")"))) == Seq(Seq(31L)))
  }

  test("no commit path writes a per-table pointer file") {
    val env = freshEnv()
    val root = env.warehouse.root
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    env.view("country", Seq("name")).delete(data = Seq(Seq("Italy")))
    env.transaction {
      env.view("country", Seq("name")).write(Seq(Seq("Spain")))
      env.view("member", Seq("registration_code", "name")).write(Seq(Seq("099", "Ann")))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_TXN-5"),
      graft.view.Json.write(Map("country" -> catalog(root)("country"))).getBytes("UTF-8"))
    env.createTables() // recovers the journal
    env.warehouse.compact("country")
    val dest = java.nio.file.Files.createTempDirectory("graft-onefile-").toString + "/wh"
    env.warehouse.backup(dest)
    env.warehouse.backup(dest, incremental = true)
    for (r <- Seq(root, dest))
      assert(legacyFiles(r).isEmpty, legacyFiles(r).toString)
    assert(catalog(dest) == catalog(root))
  }

  test("an unparseable root catalog raises on read and is reported by fsck") {
    val env = freshEnv(seedTeams = false)
    val root = env.warehouse.root
    env.view("country", Seq("name")).write(Seq(Seq("Italy")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_ROOT"),
      "{\"country\": \"{unterminated")
    val e = intercept[IllegalStateException](
      env.view("country", Seq("name")).read().collect())
    assert(e.getMessage.contains("_ROOT"), e.getMessage)
    // createTables must not paper over it with empty snapshots
    intercept[IllegalStateException](env.createTables())
    val snaps = env.warehouse.snapshots("country")
    val found = env.warehouse.fsck(reclaim = true)
    assert(found.exists(i => i.kind == "unparseable-pointer" && i.table == "" &&
      i.path.endsWith("_ROOT")), found.toString)
    assert(!found.exists(_.kind == "orphan-snapshot"), found.toString)
    assert(env.warehouse.snapshots("country") == snaps, "reclaim deleted live state")
  }
}
