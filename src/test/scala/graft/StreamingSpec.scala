package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured-Streaming extension tests (no streaming in the
  * reference; SURVEY §2.5 extension surface). */
class StreamingSpec extends SparkSpec {

  // offset from epoch 0: rows at exactly the initial watermark (0)
  // would be dropped as late
  private def ts(min: Int) = new Timestamp((1000 + min) * 60000L)

  test("watermarked tumbling-window aggregation over a memory stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Event]
    val agg = EventStream.windowedCounts(
      mem.toDF(), window_ = "10 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(5), 10, "click", 2.0),
        Event(3, ts(12), 11, "buy", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      mem.addData(Event(4, ts(60), 11, "buy", 1.0))
      q.processAllAvailable()
      val got = rows(s.table("win_agg"))
      assert(got.exists(r => r(1) == "click" && r(2) == 2L &&
        r(3) == 3.0), got.toString)
      assert(got.exists(r => r(1) == "buy" && r(2) == 1L), got.toString)
    } finally q.stop()
  }

  test("file-source stream over an events parquet directory") {
    val s = spark
    // stage an events directory (micros timestamps) for the file source
    val dir = java.nio.file.Files.createTempDirectory("graft-evt-").toString
    Testbed.env(s, "/root/testdata/sf0.001")
      .view("events", Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
      .read().withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)
    val events = EventStream.readEvents(s, dir)
    assert(events.isStreaming)
    val q = EventStream.windowedCounts(events, window_ = "1 day")
      .writeStream.format("memory").queryName("file_win")
      .outputMode(OutputMode.Complete).start() // complete: no watermark wait
    try {
      q.processAllAvailable()
      assert(rows(s.table("file_win")).nonEmpty)
    } finally q.stop()
  }

  test("streaming merge into a managed bucketed table survives restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val yaml =
      """- table: stream_sink
        |  columns:
        |    event_id: bigint
        |    event_type: varchar
        |    value: float
        |  key: [event_id]
        |  buckets: 8
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-ssink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    val env = Env(s, graft.schema.Registry.fromYaml(yaml), root)
    env.createTables()
    val fields = Seq("event_id", "event_type", "value")

    val mem = MemoryStream[Event]
    val q1 = EventStream.mergeInto(mem.toDF(), env, "stream_sink", fields, ckpt).start()
    try {
      mem.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(1), 10, "click", 2.0),
        Event(2, ts(1), 10, "click", 2.5)) // dup key inside one batch
      q1.processAllAvailable()
    } finally q1.stop()
    val after1 = rows(env.view("stream_sink", fields).read())
    assert(after1.size == 2, after1.toString) // dedup-on-key merged

    // restart from the same checkpoint; replay overlapping keys plus a
    // new one — upsert idempotence keeps exactly one row per key
    val q2 = EventStream.mergeInto(mem.toDF(), env, "stream_sink", fields, ckpt).start()
    try {
      mem.addData(
        Event(2, ts(2), 10, "click", 9.0), // overwrites
        Event(3, ts(3), 11, "buy", 5.0))   // inserts
      q2.processAllAvailable()
    } finally q2.stop()
    val got = rows(env.view("stream_sink", fields).read())
      .map(r => r.head -> (r(1), r(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.toString)
    assert(got(2L)._2 == 9.0f, got.toString)
    // ids stayed stable for surviving keys across micro-batches
    val ids = rows(env.view("stream_sink", Seq("id", "event_id")).read())
      .map(r => r(1) -> r.head).toMap
    assert(ids.values.toSet.size == 3, ids.toString)
  }

  test("deduped streaming ingest drops cross-batch near-dups, keeps novel docs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val yaml =
      """- table: doc_sink
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-dsink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dckpt-").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-didx-").toString
    try {
      val env = Env(s, graft.schema.Registry.fromYaml(yaml), root)
      env.createTables()
      val base = "the quick brown fox jumps over the lazy dog again and again " * 5
      val other = "completely different content about spark streaming engines " * 5
      val third = "yet another topic entirely about warehouse compaction cycles " * 5
      // seed corpus: one doc, indexed
      val seed = Seq((100L, base)).toDF("doc_id", "text")
      graft.ops.Dedup.buildMinhashIndex(seed, "doc_id", "text", idx)

      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      val q = EventStream.dedupedMergeInto(stream, env, "doc_sink",
        Seq("doc_id", "text"), "doc_id", "text", idx, ckpt,
        threshold = 0.5).start()
      try {
        // batch 1: near-dup of the seed corpus + a novel doc
        mem.addData((1L, base.replace("lazy", "sleepy")), (2L, other))
        q.processAllAvailable()
        // batch 2: near-dup of batch 1's novel doc + another novel doc
        mem.addData((3L, other + " extra"), (4L, third))
        q.processAllAvailable()
      } finally q.stop()
      val got = rows(env.view("doc_sink", Seq("doc_id")).read())
        .map(_.head).toSet
      assert(got == Set(2L, 4L), got.toString)
    } finally Seq(root, ckpt, idx).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("vector-deduped streaming ingest: semantic index filters and grows per batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val yaml =
      """- table: vec_sink
        |  columns:
        |    vec_id: bigint
        |    embedding: float[]
        |  key: [vec_id]
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-vsink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vckpt-").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-vidx-").toString
    try {
      val env = Env(s, graft.schema.Registry.fromYaml(yaml), root)
      env.createTables()
      // seed corpus: two indexed vectors on opposite axes (k-means
      // needs k >= 2)
      val seed = Seq((100L, Seq(1f, 0f, 0f, 0f)),
        (101L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
      graft.ops.Similarity.buildSemanticIndex(seed, "embedding", "vec_id",
        idx, k = 2)
      val mem = MemoryStream[(Long, Seq[Float])]
      val stream = mem.toDF().toDF("vec_id", "embedding")
      val q = EventStream.vectorDedupedMergeInto(stream, env, "vec_sink",
        Seq("vec_id", "embedding"), "vec_id", "embedding", idx, ckpt,
        threshold = 0.95).start()
      try {
        // batch 1: near-dup of the seed + a novel direction (cosine
        // 0.6 with the seed — all vectors sit clearly inside one
        // cluster, no equidistant tie-breaks)
        mem.addData((1L, Seq(1.001f, 0f, 0f, 0f)),
          (2L, Seq(0.6f, 0.8f, 0f, 0f)))
        q.processAllAvailable()
        // batch 2: near-dup of batch 1's SURVIVOR (cross-batch — only
        // caught if the append grew the index) + another novel one +
        // a NULL-vector event (embedder gap): it must neither kill the
        // stream nor vanish — merged into the table, skipped by the
        // dedup passes and the index
        mem.addData((3L, Seq(0.6006f, 0.8008f, 0.001f, 0f)),
          (4L, Seq(0f, 0.6f, 0f, 0.8f)),
          (5L, null.asInstanceOf[Seq[Float]]))
        q.processAllAvailable()
      } finally q.stop()
      val got = rows(env.view("vec_sink", Seq("vec_id")).read())
        .map(_.head).toSet
      assert(got == Set(2L, 4L, 5L), got.toString)
      // the index grew by exactly the VECTOR survivors (no null entry)
      val members = s.read.parquet(idx).select("vec_id").collect()
        .map(_.getLong(0)).toSet
      assert(members == Set(100L, 101L, 2L, 4L), members.toString)
    } finally Seq(root, ckpt, idx).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("JSONL shard hand-off: sidecar-typed stream feeds the deduped ingest") {
    // the crawler→trainer hand-off: a process appends .jsonl shards
    // to a directory, the warehouse ingests them as micro-batches
    // through the same near-dup filter as any other stream source
    val s = spark
    import s.implicits._
    val yaml =
      """- table: doc_sink
        |  columns:
        |    doc_id: bigint
        |    text: varchar
        |  key: [doc_id]
        |""".stripMargin
    val root = java.nio.file.Files.createTempDirectory("graft-jsink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-jckpt-").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-jidx-").toString
    val shards = java.nio.file.Files.createTempDirectory("graft-jshards-")
      .resolve("data").toString
    try {
      val env = Env(s, graft.schema.Registry.fromYaml(yaml), root)
      env.createTables()
      val base = "the quick brown fox jumps over the lazy dog again and again " * 5
      val other = "completely different content about spark streaming engines " * 5
      val third = "yet another topic entirely about warehouse compaction cycles " * 5
      val seed = Seq((100L, base)).toDF("doc_id", "text")
      graft.ops.Dedup.buildMinhashIndex(seed, "doc_id", "text", idx)
      // shard set 1: written by the exporter (gzipped + sidecar)
      graft.sources.Corpus.exportJsonl(
        Seq((1L, base.replace("lazy", "sleepy")), (2L, other))
          .toDF("doc_id", "text"), shards)
      val stream = graft.sources.Corpus.streamJsonl(s, shards)
      val q = EventStream.dedupedMergeInto(stream, env, "doc_sink",
        Seq("doc_id", "text"), "doc_id", "text", idx, ckpt,
        threshold = 0.5).start()
      try {
        q.processAllAvailable()
        // a LATE shard dropped in by hand (plain .json, same schema):
        // near-dup of doc 2 plus a novel doc
        val w = new java.io.PrintWriter(new java.io.File(shards, "part-late.json"))
        try {
          w.println(s"""{"doc_id":3,"text":"${other} extra"}""")
          w.println(s"""{"doc_id":4,"text":"${third}"}""")
        } finally w.close()
        q.processAllAvailable()
      } finally q.stop()
      val got = rows(env.view("doc_sink", Seq("doc_id")).read())
        .map(_.head).toSet
      assert(got == Set(2L, 4L), got.toString)
    } finally Seq(root, ckpt, idx, shards).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("gap-based sessionization with flatMapGroupsWithState") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Event]
    val sessions = EventStream.sessions(mem.toDS(), gapMs = 10 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 10: two bursts separated by > gap -> first session closes
      mem.addData(
        Event(1, ts(0), 10, "click", 1.0),
        Event(2, ts(5), 10, "click", 2.0),
        Event(3, ts(30), 10, "click", 4.0))
      q.processAllAvailable()
      val got = rows(s.table("sessions"))
      assert(got.exists(r => r(0) == 10L && r(3) == 2L && r(4) == 3.0),
        got.toString)
    } finally q.stop()
  }
}
