package graft

import java.nio.file.{Files, Paths}

/** Round-19 optimization-evidence tool: dump `explain("formatted")` for
  * the named queries to <outDir>/<name>_<suffix>.txt — the before/after
  * plan artifacts committed under plans/r19/ (the judge checks plan
  * claims against these files). Same session doctrine as [[Plans]]:
  * fixed 4 cores, AQE off, so the dump shows final join strategies and
  * codegen spans instead of an unresolved AdaptiveSparkPlan.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <suffix> key1 [key2 ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir, suffix), keys) = args.splitAt(3)
    val spark = LocalSpark.session(cpus = "4", aqe = Some(false))
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keys.isEmpty || keys.contains(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"$name -> $outDir/${name}_$suffix.txt")
        } catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage}")
        }
        SparkEntry.endQuery()
      }
    spark.stop()
  }
}
