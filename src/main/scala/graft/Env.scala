package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable
import graft.schema.Registry
import graft.store.Warehouse

/** Session-scoped engine context: SparkSession + schema registry +
  * warehouse + configuration.
  *
  * Replaces the reference's thread-local context stack
  * (tanker/context.py:140-151, utils.py:156-185) with an explicit
  * object — SparkSession is thread-safe, so no per-thread connection
  * juggling is needed.
  *
  * - `aliases` / `cfg`: named-value sources for `{name}` parameters and
  *   `{alias}` view fields (tanker/context.py:762-768).
  * - `aclRead` / `aclWrite`: per-table mandatory filters injected into
  *   every read / write (tanker/view.py:144-146, view.py:350-354).
  * - `builtins`: user-extensible scalar function registry
  *   (tanker/expression.py:130-171; extensibility demonstrated in
  *   talks/jeudis-du-libre/tanker.md:812-824).
  */
final class Env(
    val spark: SparkSession,
    val registry: Registry,
    val warehouse: Warehouse) {

  var aliases: Map[String, Any] = Map()
  var cfg: Map[String, Any] = Map()
  var aclRead: Map[String, Seq[String]] = Map()
  var aclWrite: Map[String, Seq[String]] = Map()

  /** User-extensible builtins: name -> (args => column). Consulted for
    * head-position symbols not matched by a core special form. */
  val builtins: mutable.Map[String, Seq[Column] => Column] = mutable.Map()

  def view(table: String): graft.view.View =
    new graft.view.View(this, table, null)
  def view(table: String, fields: Seq[String]): graft.view.View =
    new graft.view.View(this, table,
      if (fields == null) null else fields.map(f => (f, f)))
  /** Fields with explicit (name, descriptor) pairs — tanker's
    * dict/list-of-tuples field spec (tanker/view.py:66-76). */
  def viewNamed(table: String, fields: Seq[(String, String)]): graft.view.View =
    new graft.view.View(this, table, fields)

  /** Create all managed tables (idempotent) and write their seed
    * `values` through the View layer so dotted FK fields resolve
    * (tanker/context.py:679-686). */
  def createTables(): Unit = {
    warehouse.createTables()
    registry.names.foreach { t =>
      val td = registry(t)
      if (td.values.nonEmpty) {
        val fields = td.values.flatMap(_.keys).distinct
        view(t, fields).write(td.values.map(r => fields.map(f => r.get(f).orNull)))
      }
    }
  }

  /** Cross-write transaction (tanker/context.py:238-248 commit/
    * rollback): all writes/deletes inside `body` become visible
    * together on success; on exception none do. See
    * [[graft.store.Warehouse.transaction]] for the isolation
    * contract (all-or-nothing durability via a roll-forward journal;
    * visibility is atomic — one `_ROOT` catalog swap — so concurrent
    * readers never observe a partial multi-table commit). */
  def transaction[A](body: => A): A = warehouse.transaction(body)

  /** Snapshot diff: the key-level change audit of a managed table
    * between two retained snapshots ([[graft.ops.Diff.diff]] over
    * [[graft.store.Warehouse.readSnapshot]], keyed on the table's
    * declared key). `to` defaults to the newest retained snapshot,
    * `from` to the one just before `to` — the natural "what did the
    * last write change" call. `summary = true` rolls the verdicts up
    * to per-kind counts (the release gate). A storage-level audit
    * surface like introspection: it reads snapshot directories
    * directly, so view ACL read filters do NOT apply; a snapshot that
    * is a per-bucket or per-zone delta, not a full state, refuses
    * loudly (readSnapshot's guard). */
  def diffSnapshots(table: String, from: Option[String] = None,
      to: Option[String] = None, summary: Boolean = false): DataFrame = {
    val (b, a) = snapshotPair(table, from, to)
    val keys = registry(table).key
    if (summary) graft.ops.Diff.diffSummary(b, a, keys)
    else graft.ops.Diff.diff(b, a, keys)
  }

  /** [[diffSnapshots]]'s PROFILE twin: instead of key-level change
    * rows, the per-column data-card drift
    * ([[graft.ops.Profile.compare]] — before/after rows, nulls,
    * distinct counts, min/max, deltas) between two retained snapshots
    * of a managed table. Same snapshot resolution, same storage-level
    * (ACL-free, delta-refusal) contract. */
  def compareSnapshots(table: String, from: Option[String] = None,
      to: Option[String] = None): DataFrame = {
    val (b, a) = snapshotPair(table, from, to)
    graft.ops.Profile.compare(b, a, registry(table).own.map(_.name))
  }

  /** [[diffSnapshots]]'s PSI twin: the population-stability score of
    * one numeric column between two retained snapshots — the scalar
    * release gate next to [[compareSnapshots]]'s per-column card. The
    * histogram grid derives from the POOLED min/max of both snapshots
    * (so both distributions bin on one scale); a constant column
    * degenerates to a single effective bin and scores 0. Same
    * snapshot resolution and storage-level contract as the other
    * audit surfaces. */
  def psiSnapshots(table: String, column: String,
      from: Option[String] = None, to: Option[String] = None,
      bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, min => mn, max => mx}
    val (b, a) = snapshotPair(table, from, to)
    val mm = b.select(c(column).cast("double").as("__v"))
      .unionByName(a.select(c(column).cast("double").as("__v")))
      .agg(mn(c("__v")), mx(c("__v"))).head()
    require(!mm.isNullAt(0),
      s"'$column' has no non-null values in either snapshot to bin")
    val lo = mm.getDouble(0)
    val hi0 = mm.getDouble(1)
    val hi = if (hi0 > lo) hi0 else lo + 1.0
    graft.ops.Profile.psi(b, a, column, lo, hi, bins)
  }

  /** Shared snapshot resolution for the audit surfaces: `to` defaults
    * to the newest retained snapshot, `from` to the one just before
    * `to`. Returns (before, after). */
  private def snapshotPair(table: String, from: Option[String],
      to: Option[String]): (DataFrame, DataFrame) = {
    val snaps = warehouse.snapshots(table)
    val toSnap = to.getOrElse {
      require(snaps.nonEmpty, s"No retained snapshots for '$table'")
      snaps.last
    }
    val fromSnap = from.getOrElse {
      val older = snaps.takeWhile(_ != toSnap)
      require(older.nonEmpty, s"'$table' has no retained snapshot before " +
        s"'$toSnap' — pass an explicit from=")
      older.last
    }
    (warehouse.readSnapshot(table, fromSnap),
      warehouse.readSnapshot(table, toSnap))
  }

  /** One-record fetch by filter, as a name->value map
    * (tanker/view.py:714-721). */
  def fetch(table: String, filterBy: String, args: Seq[Any] = Nil): Option[Map[String, Any]] = {
    val cols = "id" +: registry(table).own.map(_.name)
    val df = view(table, cols).read(Seq(filterBy), args = args)
    df.head(1).headOption.map(r => cols.zip(r.toSeq).toMap)
  }

  /** One-record upsert from a name->value map (tanker/view.py:724-727). */
  def save(table: String, data: Map[String, Any]): Unit = {
    val fields = data.keys.toSeq
    view(table, fields).write(Seq(fields.map(data(_))))
  }

  /** Runtime table registration (reference ctx.register +
    * create_table, tests/utils_test.py:60-80): a new Env over the SAME
    * warehouse whose registry includes `td`; the table is created, its
    * seed `values` written (dotted FK fields resolve), and the
    * persisted `_SCHEMA.yaml` refreshed so introspection sees it. */
  def register(td: graft.schema.TableDef): Env = {
    val e2 = Env(spark, registry.extended(td), warehouse.root)
    e2.aliases = aliases; e2.cfg = cfg
    e2.aclRead = aclRead; e2.aclWrite = aclWrite
    e2.builtins ++= builtins
    // create + seed ONLY the new table: re-seeding the whole registry
    // would upsert seed rows back over user-modified data
    e2.warehouse.createTables() // idempotent; only missing tables
    if (td.values.nonEmpty) {
      val fields = td.values.flatMap(_.keys).distinct
      e2.view(td.name, fields).write(td.values.map(r => fields.map(f => r.get(f).orNull)))
    }
    e2
  }
}

object Env {
  /** Standard local session config; shuffle partitions sized for
    * local[32], AQE on (coalesces them at runtime). The session binds
    * filter and projection values outside generated code
    * ([[org.apache.spark.sql.graft.BindValues]]), so a query shape
    * compiles once whatever keys and thresholds it is read with.
    *
    * Spark's compiled-class cache holds [[CodeCacheEntries]] classes.
    *
    * Extensions apply only when a session is created, and
    * `getOrCreate` hands back a session started earlier as it is: one
    * without the rule fails here rather than compiling every value.
    * Likewise Spark sizes its compiled-class cache once per JVM, so a
    * smaller cache built before this session fails here too. */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Lax-SQL semantics (reference targets sqlite/pg via DB-API, no
      // ANSI overflow errors); also required for wraparound hash math
      // in the dedup operators.
      .config("spark.sql.ansi.enabled", "false")
      // Driver testdata events.ts is TIMESTAMP(NANOS); read as long and
      // convert in Warehouse.read (Spark has no nanos timestamp).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // a limit's collect scans this many partitions in its first job
      // (Spark's default is 1, then a second job for the rest)
      .config("spark.sql.limit.initialNumPartitions", shufflePartitions.toString)
      // permissions through java.nio, not a process per file
      .config("spark.hadoop.fs.file.impl", classOf[graft.store.LocalFs].getName)
      .config(Bridge.CodeCacheConf, CodeCacheEntries.toString)
      .withExtensions(Bridge.extensions)
      .getOrCreate()
    if (!Bridge.bindsValues(spark)) throw new IllegalStateException(
      "a SparkSession started before Env.session, without graft's session extensions, " +
      "is still active; stop it (or build it through Env.session) first")
    if (Bridge.codeCacheEntries < CodeCacheEntries) throw new IllegalStateException(
      s"Spark's compiled-class cache holds ${Bridge.codeCacheEntries} classes, fewer than " +
      s"graft's working set needs ($CodeCacheEntries): code was generated before " +
      s"Env.session, by a session without ${Bridge.CodeCacheConf}=$CodeCacheEntries")
    spark
  }

  /** Capacity of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default). In local
    * mode every whole-stage class is an entry twice, once per class
    * loader that asks for it (the driver thread's and the executor task
    * thread's). Distinct entries compiled, measured with an unbounded
    * cache on local[4]:
    *   - perfbench curate_stream (set-up, warm-up, 2 timed batches): 124
    *   - perfbench crud_mix (3 cycles): 90; bulk_layouts (2 cycles): 109
    *   - graft.Bench at sf0.1, one run of each query: 2,132 in all
    *   - the `pipeline` test group (79 tests): 1,263 in all
    * At 100 the curate loop missed on every batch: a 250-doc batch
    * compiled 38–63 classes and its survivor upsert 14–23, where a
    * cache that holds them compiles 2–3 and 0. The three perfbench
    * loops together hold 323; Guava splits the bound over 4 segments
    * that evict on their own, so the capacity leaves that working set
    * room to land unevenly. An entry costs ~37 KB of metaspace
    * (metaspace plus class space: 180 MB at 124 entries, 222 MB at
    * 1,263) and its source on the heap (~5 KB: 658k characters over
    * curate_stream's 127). After a curate_stream run the heap holds
    * 131–133 MB and metaspace 160 MB, as at 100 entries. */
  val CodeCacheEntries: Int = 1000

  /** One harness query (Bench, Verify, Plans, Profile): `body` runs
    * in its own [[graft.ops.Scope]], so whatever it materialized is
    * released on return or throw. Then a GC lets the ContextCleaner,
    * which is GC-driven, reclaim the query's dead shuffle and broadcast
    * state now, before a stop-the-world collection can land inside a
    * later query's timed section. */
  def isolated[T](body: => T): T =
    try graft.ops.Scope(body) finally System.gc()

  def apply(spark: SparkSession, registry: Registry, root: String): Env =
    new Env(spark, registry, new Warehouse(spark, root, registry))

  /** Open an existing warehouse without a schema — the registry is
    * introspected from the persisted `_SCHEMA.yaml` / parquet footers
    * (the reference's `auto` mode, tanker/context.py:309-310). */
  def introspect(spark: SparkSession, root: String): Env = {
    val reg = Warehouse.introspect(spark, root)
    Env(spark, reg, root)
  }
}
