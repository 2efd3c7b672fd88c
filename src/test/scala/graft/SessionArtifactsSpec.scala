package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session-artifact lifecycle (SessionArtifacts): one build per key,
  * a memo per session but one serve dir per data dir, memo clears and
  * query ends that leave serve dirs alone, eviction when an application
  * ends, and dependent memos built cold. */
class SessionArtifactsSpec extends SparkSpec {

  /** A registry of its own, so build counts never depend on what other
    * suites left in SparkEntry's. */
  private object Probe extends SessionArtifacts {
    val edgeBuilds, pathBuilds, serveBuilds = new AtomicInteger()
    val edges = memo("memo:edges") { (s, d) =>
      edgeBuilds.incrementAndGet()
      s.range(3).toDF("v")
    }
    // reads another memo inside its own build: the triangles-over-edges
    // shape, which one shared map must not run as a recursive update
    val paths = memo("memo:paths") { (s, d) =>
      pathBuilds.incrementAndGet()
      edges(s, d).count() + 1L
    }
    val served = serveDir("probe_serve") { (_, d, dir) =>
      serveBuilds.incrementAndGet()
      Files.writeString(Paths.get(dir, "marker"), d)
      ()
    }
  }

  private def app: String = spark.sparkContext.applicationId

  test("a memo and a serve dir each build once per key, even under " +
    "concurrent first reads") {
    Probe.clearMemos()
    val e0 = Probe.edgeBuilds.get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[(DataFrame, String)] {
          def call() = (Probe.edges(spark, "d_once"), Probe.served(spark, "d_once"))
        }))
      val got = reads.map(_.get)
      assert(got.map(_._1).forall(_ eq got.head._1))
      assert(got.map(_._2).distinct == Seq(got.head._2))
    } finally pool.shutdown()
    assert(Probe.edgeBuilds.get == e0 + 1)
    val s0 = Probe.serveBuilds.get
    Probe.edges(spark, "d_other")
    assert(Probe.edgeBuilds.get == e0 + 2, "a new data dir is a new key")
    assert(Probe.served(spark, "d_other") != Probe.served(spark, "d_once"))
    assert(Probe.serveBuilds.get == s0 + 1)
  }

  test("spark.newSession() gets its own memo but the same serve dir") {
    val other = spark.newSession()
    val m1 = Probe.edges(spark, "d_sess")
    val dir = Probe.served(spark, "d_sess")
    val (e0, s0) = (Probe.edgeBuilds.get, Probe.serveBuilds.get)
    val m2 = Probe.edges(other, "d_sess")
    assert(!(m1 eq m2))
    assert(Probe.edgeBuilds.get == e0 + 1)
    assert(Probe.served(other, "d_sess") == dir)
    assert(Probe.serveBuilds.get == s0)
  }

  test("a memo clear forces a rebuild while serve dirs survive") {
    val m1 = Probe.edges(spark, "d_clear")
    val dir = Probe.served(spark, "d_clear")
    val (e0, s0) = (Probe.edgeBuilds.get, Probe.serveBuilds.get)
    Probe.clearMemos()
    assert(!(Probe.edges(spark, "d_clear") eq m1))
    assert(Probe.edgeBuilds.get == e0 + 1)
    assert(Probe.served(spark, "d_clear") == dir)
    assert(Files.readString(Paths.get(dir, "marker")) == "d_clear")
    assert(Probe.serveBuilds.get == s0)
    // one memo's clear leaves the other memos built
    Probe.paths(spark, "d_clear")
    val p0 = Probe.pathBuilds.get
    Probe.edges.clear()
    Probe.paths(spark, "d_clear")
    assert(Probe.pathBuilds.get == p0)
  }

  test("endQuery() deletes the query dirs, releases the harness scope " +
    "and leaves the serve dirs") {
    val dir = Probe.served(spark, "d_query")
    val q1 = Probe.queryDir("probe_query")
    val q2 = Probe.queryDir("probe_query")
    Files.writeString(Paths.get(q1, "part"), "x")
    Files.createDirectories(Paths.get(q2, "ckpt", "offsets"))
    val cached: DataFrame = Probe.harnessScope.track(spark.range(10).toDF("v"))
    cached.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    Probe.endQuery()
    assert(!Files.exists(Paths.get(q1)) && !Files.exists(Paths.get(q2)))
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(Files.readString(Paths.get(dir, "marker")) == "d_query")
    // the next query's dirs are unaffected by the previous end
    val q3 = Probe.queryDir("probe_query")
    assert(Files.isDirectory(Paths.get(q3)))
    Probe.endQuery()
    assert(!Files.exists(Paths.get(q3)))
  }

  test("an application's end evicts its memos only, and no serve dir " +
    "(without stopping the shared context)") {
    val m1 = Probe.edges(spark, "d_end")
    val dir = Probe.served(spark, "d_end")
    val (e0, s0) = (Probe.edgeBuilds.get, Probe.serveBuilds.get)
    new Probe.EvictOnEnd("some-other-app")
      .onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(Probe.edges(spark, "d_end") eq m1)
    new Probe.EvictOnEnd(app).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!(Probe.edges(spark, "d_end") eq m1))
    assert(Probe.edgeBuilds.get == e0 + 1)
    assert(Probe.served(spark, "d_end") == dir)
    assert(Probe.serveBuilds.get == s0)
  }

  test("a dependent memo built cold completes and builds its input once") {
    Probe.clearMemos()
    val (e0, p0) = (Probe.edgeBuilds.get, Probe.pathBuilds.get)
    assert(Probe.paths(spark, "d_cold") == 4L)
    assert(Probe.edgeBuilds.get == e0 + 1 && Probe.pathBuilds.get == p0 + 1)
    Probe.edges(spark, "d_cold")
    assert(Probe.edgeBuilds.get == e0 + 1)
    // the registry's own dependent memos, cold: triangles and LPA labels
    // both build the co-order edges from inside their build
    SparkEntry.clearMemos()
    val tri = SparkEntry.trianglesShared(spark, sf0)
    tri.count()
    SparkEntry.lpaLabelsShared(spark, sf0).count()
    assert(SparkEntry.trianglesShared(spark, sf0) eq tri)
    SparkEntry.endQuery()
  }

  test("the registry declares exactly the memos memoDeps names (Bench " +
    "derives its memo entries from both)") {
    assert(SparkEntry.memos.map(_.name).sorted ==
      SparkEntry.memoDeps.map(_._1).sorted)
  }
}
