package graft

import graft.streaming.Replay
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The replay stager's contract, which every `stream_*` parity key
  * relies on: batch i reads file i, on every run. */
class ReplaySpec extends SparkSpec {

  test("Replay stager: batch i reads file i, an empty batch file still " +
    "takes a batch id, and the staged files come back in batch order") {
    val base = Scratch.dir("graft_replay_spec_").toString
    val srcDir = s"$base/src"
    val keys = spark.range(0, 300).select(col("id").as("k"))
    // 3 ranged files, then one empty batch file whose name sorts last
    // (the corpus replay's empty residue class, in miniature)
    val staged = Replay.stageFiles(spark, srcDir, keys.schema, "parquet",
      nFiles = 4) {
      keys.repartitionByRange(3, col("k"))
        .write.mode("overwrite").parquet(srcDir)
      keys.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(s"$base/empty")
      val part = new java.io.File(s"$base/empty").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, "zz_empty.parquet"))
      ()
    }
    assert(staged.files.last.getName == "zz_empty.parquet")
    assert(staged.files.map(_.lastModified).sliding(2)
      .forall { case Seq(a, b) => a < b }, "mtimes not strictly increasing")

    // (rows, min key, max key) of a frame; min/max -1 when empty
    def range(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), min(col("k")), max(col("k"))).head()
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, (Long, Long, Long))]()
    Replay.drainEach(staged.stream, s"$base/ckpt", "append") { (b, id) =>
      seen.add(id -> range(b)); ()
    }
    val batches = seen.asScala.toSeq.sortBy(_._1)
    val files = staged.files.map(f => range(spark.read.parquet(f.getPath)))
    assert(batches.map(_._1) == (0L until 4L), batches)
    assert(batches.map(_._2) == files, s"batches $batches vs files $files")
    // the ranged files really are disjoint ascending ranges, so the
    // match above pins order, and the empty file took batch 3
    assert(files.take(3).map(_._1).sum == 300L)
    assert(files.take(3).sliding(2).forall { case Seq(a, b) => a._3 < b._2 })
    assert(batches(3)._2 == ((0L, -1L, -1L)))
  }

  test("Replay.stage refuses a single-file replay") {
    val base = Scratch.dir("graft_replay_one_").toString
    intercept[IllegalArgumentException] {
      Replay.stage(spark.range(3).toDF(), s"$base/src", nFiles = 1)
    }
  }
}
