package graft.tools

import graft.{Env, SparkEntry}

/** Dump `.explain("formatted")` for SparkEntry queries to files — the
  * plan evidence for the optimization rounds.
  *
  *   SPARK_GRAFT_PLANS_OUT=plans/r14 \
  *   SPARK_GRAFT_PLANS_SUFFIX=before \
  *   SPARK_GRAFT_ONLY=q1_agg,ann_pq_topk \
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.tools.Plans"
  *
  * Each query writes `<out>/<name>_<suffix>.txt`. Queries with
  * side-effecting bodies (index builds, write round-trips) still run
  * their driver-side work to produce the final frame; the plan
  * captured is that of the RETURNED DataFrame, which is what the
  * bench times through the noop sink.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "plans/r14")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Env.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      try Env.isolated {
        val df = fn(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, s"${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
