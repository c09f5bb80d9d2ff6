package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.{Env, SparkEntry}

/** Stage-level profiler for any `SparkEntry` query: prints one line
  * per completed stage (submission offset, wall, task CPU) plus the
  * total, so shuffle shape and driver gaps are visible without the UI.
  * `SPARK_GRAFT_PROFILE_Q` takes a comma list; each query runs
  * `SPARK_GRAFT_PROFILE_REPS` times (default 2 — the second rep
  * separates plan-compilation/JIT warmup from steady-state cost).
  *
  *   SPARK_GRAFT_PROFILE_Q=dedup_minhash_pairs,ann_pq_topk \
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.Profile"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.getOrElse("SPARK_GRAFT_PROFILE_Q", "q1_agg")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = sys.env.get("SPARK_GRAFT_PROFILE_REPS").map(_.toInt).getOrElse(2)
    val spark = Env.session("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")

    val epoch = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val sub = si.submissionTime.map(t => (t - epoch) / 1000.0).getOrElse(-1.0)
        val dur = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1000.0).getOrElse(-1.0)
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"sub=$sub%7.2f wall=$dur%7.2fs cpu=$cpu%8.2fs")
      }
    })

    spark.range(1000).selectExpr("sum(id)").collect() // JIT/codegen warmup
    for (q <- only; rep <- 1 to reps) {
      val t0 = System.nanoTime()
      try Env.isolated {
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"[profile] $q rep=$rep total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $q failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
