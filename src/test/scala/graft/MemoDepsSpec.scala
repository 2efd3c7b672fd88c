package graft

/** The memo-dependency declaration (SparkEntry.memoDeps, VERDICT r14
  * item 7) proven EXACT against the accessor-level read recorder: every
  * registered query is constructed against a schema-preserving EMPTY
  * dataset (the EmptyInputSpec trick — memo accessors fire at plan
  * construction, so execution cost is irrelevant) and the set of memo
  * artifacts it touched must equal the declared fed lists in both
  * directions. A NEW key that silently reads a memo fails here before
  * its bench number can ever misattribute the build cost; a stale
  * declaration (a key listed but no longer reading) fails equally. */
class MemoDepsSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Scratch.dir("graft_memodeps_sf_").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf0/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every key's memo reads are exactly its declared dependencies " +
    "(undeclared reads and stale declarations both fail)") {
    val declared: Map[String, Set[String]] = SparkEntry.queries.keys.map { k =>
      k -> SparkEntry.memoDeps.collect {
        case (m, fed) if fed.contains(k) => m
      }.toSet
    }.toMap
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      SparkEntry.memoReadLog.clear()
      try {
        SparkEntry.queries(k)(spark, emptyDir)
        val read = {
          import scala.jdk.CollectionConverters._
          SparkEntry.memoReadLog.asScala.toSet
        }
        val want = declared(k)
        if (read != want)
          bad += s"$k: read ${read.toSeq.sorted.mkString(",")} vs " +
            s"declared ${want.toSeq.sorted.mkString(",")}"
      } finally SparkEntry.endQuery()
    }
    assert(bad.isEmpty,
      s"memo-dependency declaration out of sync:\n${bad.mkString("\n")}")
  }
}
