package graft

import java.nio.file.{Files, Paths}

/** Plan-audit tool: dump the optimized + physical plan of every
  * SparkEntry query to <outDir>/<name>.txt, plus a one-line-per-query
  * summary of scale-relevant plan facts (shuffle count, broadcast joins,
  * nested-loop joins, whole-stage-codegen coverage, pushed filters) to
  * stdout. Dev-loop tool — the "would this plan survive 100×?" check.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [key1 key2 ...]
  * (trailing keys scope the audit — same convention as graft.Verify)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), keys) = args.splitAt(2)
    // fixed 4 cores for a stable audit; AQE off — its pre-execution
    // AdaptiveSparkPlan hides codegen stages and final join strategies
    val spark = LocalSpark.session(cpus = "4", aqe = Some(false))
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keys.isEmpty || keys.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val phys = df.queryExecution.executedPlan.toString
        val opt = df.queryExecution.optimizedPlan.toString
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          s"== physical ==\n$phys\n== optimized ==\n$opt\n")
        def n(pat: String) = pat.r.findAllIn(phys).size
        // codegen spans print as "*(stageId)" operator prefixes: count
        // DISTINCT stage ids = number of whole-stage-codegen regions
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(phys)
          .map(_.group(1)).toSet.size
        println(f"$name%-24s exch=${n("Exchange (hash|range)partitioning|Exchange SinglePartition")}%d " +
          f"bcast=${n("BroadcastExchange")}%d bnlj=${n("BroadcastNestedLoopJoin")}%d " +
          f"smj=${n("SortMergeJoin")}%d wsc=$wsc%d " +
          f"window=${n("WindowGroupLimit|Window \\[")}%d")
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}")
      }
      SparkEntry.endQuery()
    }
    spark.stop()
  }
}
