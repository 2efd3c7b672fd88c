package graft

import graft.streaming.StreamingContamination
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

object StreamingContaminationSpec {
  // top-level: inner case classes can't get an Encoder
  case class Doc(doc_id: Long, text: String)
}

/** Drives the stream-static contamination gate through a real streaming
  * query: the benchmark gram set is static, arriving docs sharing a
  * verbatim 13-token passage surface as append-mode hit rows with NO
  * state store, and the foreachBatch gate annotates whole batches. */
class StreamingContaminationSpec extends SparkSpec {
  import spark.implicits._
  import StreamingContaminationSpec.Doc

  private val passage = (0 until 13).map(i => s"p$i").mkString(" ")
  private lazy val benchmark = Seq(
    (100L, s"the held out question text one $passage tail"),
    (101L, "another benchmark item entirely unrelated")).toDF("doc_id", "text")

  test("hitPairs: stateless append-mode stream-static join flags exactly " +
    "the doc carrying a verbatim benchmark passage") {
    implicit val sqlCtx = spark.sqlContext
    val staticGrams = StreamingContamination.benchmarkGrams(benchmark)
    val mem = MemoryStream[Doc]
    val out = StreamingContamination.hitPairs(mem.toDF(), staticGrams)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("contam_hits").start()
    try {
      mem.addData(
        Doc(1L, (0 until 40).map(i => s"c$i").mkString(" ")), // clean
        Doc(2L, s"leading words $passage trailing words"))    // leaked
      q.processAllAvailable()
      // a later batch with another leak — the static side is reused
      mem.addData(Doc(3L, s"$passage alone"))
      q.processAllAvailable()
      val hits = spark.table("contam_hits")
        .select(col("doc_id")).distinct().as[Long].collect().sorted
      assert(hits.toSeq == Seq(2L, 3L), s"got ${hits.toSeq}")
      // the streaming query ran stateless: no aggregation state expected
      assert(spark.table("contam_hits").count() >= 2)
    } finally { q.stop(); staticGrams.close() }
  }

  test("gateBatch annotates a whole batch: flagged docs carry hit counts, " +
    "clean docs pass with zero") {
    val staticGrams = StreamingContamination.benchmarkGrams(benchmark)
    try {
      val batch = Seq(
        Doc(1L, (0 until 40).map(i => s"c$i").mkString(" ")),
        Doc(2L, s"leading words $passage trailing words")).toDF()
      val gated = StreamingContamination.gateBatch(batch, staticGrams)
        .orderBy(col("doc_id")).collect()
      assert(gated.length == 2)
      val byId = gated.map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))).toMap
      assert(byId(1L) == ((0L, false)))
      assert(byId(2L)._1 >= 1L && byId(2L)._2)
    } finally staticGrams.close()
  }

  test("contamination parity replay: the streamed gate verdicts equal " +
    "the one-batch gate over the whole train split, multi-batch") {
    val base = Scratch.dir("graft_contam_parity_").toString
    try {
      val docs = Tables.documents(spark, sf0)
      val out = StreamingContamination.contaminationParityReplay(
        docs, s"$base/src", s"$base/out", s"$base/ckpt", nFiles = 4)
      // batch equivalent: the SAME gate over the whole train split in
      // one call (stateless → batching must not matter)
      val tagged = docs.withColumn("is_test",
        graft.operators.Corpus.isHoldout(col("doc_id")))
      val bench = StreamingContamination.benchmarkGrams(
        tagged.filter(col("is_test")))
      try {
        val batch = StreamingContamination.gateBatch(
            tagged.filter(!col("is_test")).select(col("doc_id"), col("text")),
            bench)
          .select(col("doc_id"), col("n_shared"), col("contaminated"))
          .orderBy(col("doc_id"))
        assert(out.collect().toSeq.map(_.toSeq) ==
          batch.collect().toSeq.map(_.toSeq),
          "streamed gate diverged from the one-batch gate")
      } finally bench.close()
      val commits = new java.io.File(s"$base/ckpt/commits").list()
        .count(!_.endsWith(".tmp"))
      assert(commits >= 4, s"expected a multi-batch replay, got $commits")
    } finally Scratch.rm(new java.io.File(base))
  }
}
