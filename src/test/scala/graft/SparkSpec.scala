package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite, from the factory the mains use. */
trait SparkSpec extends AnyFunSuite {
  // pin the JVM default zone too: java.sql.Timestamp.valueOf interprets
  // its literal in the JVM zone, so fixture timestamps (and the expected
  // render strings) would shift on a non-UTC machine even though the
  // Spark session zone is UTC
  java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

  lazy val spark: SparkSession = LocalSpark.session(cpus = "4")

  val sf0: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` launches, and how many of them ran outside a SQL
    * execution. A listener counts job starts between two fence jobs, so
    * every start event of `body` has been delivered when it returns. */
  protected def jobsOf(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fenceKey = "graft.spec.fence"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val bare = new java.util.concurrent.atomic.AtomicInteger()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var open = false
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(fenceKey))) match {
          case Some("open") => open = true
          case Some(_) => closed.countDown()
          case None if open =>
            jobs.incrementAndGet()
            if (props.forall(_.getProperty("spark.sql.execution.id") == null))
              bare.incrementAndGet()
          case None => ()
        }
      }
    }
    def fence(tag: String): Unit = {
      sc.setLocalProperty(fenceKey, tag)
      try { sc.parallelize(Seq(1), 1).count(); () }
      finally sc.setLocalProperty(fenceKey, null)
    }
    sc.addSparkListener(listener)
    try {
      fence("open"); body; fence("close")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (jobs.get, bare.get)
    } finally sc.removeSparkListener(listener)
  }
}
