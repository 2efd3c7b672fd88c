package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Contention-proofing (round 19, VERDICT r18 items 1+2): the r18 driver
  * host ran at 3–10× contention and the external wall cap killed this
  * dump mid-run — and because oracle_sql.json was written LAST, the
  * round's correctness artifact came out empty ({}) even though every
  * key was green. Three changes make a partial run degrade instead of
  * zeroing:
  *
  *  1. `oracle_sql.json` is written FIRST — it is static registry data
  *     (SparkEntry.oracleSql); there was never a reason to defer it.
  *  2. Per-key results stream to `progress.jsonl` (append + flush per
  *     key), so a killed run leaves a machine-readable record of which
  *     keys dumped cleanly, which failed, and which were skipped.
  *  3. A wall budget (default 2700 s, override
  *     SPARK_GRAFT_VERIFY_BUDGET_SEC — env-gated, the driver's 2-arg
  *     contract is unchanged) is checked between keys, Bench-protocol
  *     style: on overrun the tail is SKIPPED with explicit
  *     `"err":"skipped: budget"` progress entries and rc stays 0, so a
  *     contended host yields rows for every completed key instead of
  *     dying at the external cap.
  *
  * Keys iterate in FAMILY-ROUND-ROBIN order (one key per family per
  * round, Bench item-3 doctrine) so a budget skip costs ≤1–2 keys per
  * family instead of whole families. Order does not affect any dump's
  * content: every key's query is independent (memos are session-scoped
  * and build on first read wherever that happens).
  *
  * Deterministic kill test hook: the `graft.verify.maxKeys` system
  * property routes through the SAME skip path after N dumped keys —
  * VerifyPartialSpec proves a 50%-killed run still parses. */
object Verify {
  /** Keys allowed to dump 0 rows at the verify SF (legitimately empty
    * shapes only — each needs a FIXTURES.md §zero-row-whitelist entry
    * explaining why empty IS the correct answer). Currently empty:
    * every board key produces rows at sf0.01 by design. */
  val ZeroRowWhitelist: Set[String] = Set.empty

  private def jsonEsc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = run(args, stopSession = true)

  /** Body of [[main]]; stopSession=false lets VerifyPartialSpec drive
    * the real protocol without stopping the suite's shared session. */
  private[graft] def run(args: Array[String], stopSession: Boolean): Unit = {
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    val budget = sys.env.get("SPARK_GRAFT_VERIFY_BUDGET_SEC")
      .map(_.toDouble).getOrElse(2700.0)
    val maxKeys = sys.props.get("graft.verify.maxKeys").map(_.toInt)
    val sfDir = args(0)
    val outDir = args(1)
    // dev loop: extra args scope the dump to the named keys (the driver
    // passes exactly two args, so its full-run contract is unchanged)
    val only = args.drop(2).toSet
    val scoped =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    new java.io.File(outDir).mkdirs()

    // (1) static data lands BEFORE any Spark work: a run killed on its
    // first key still leaves the driver a parseable oracle file
    // JSON string escape covers ALL control chars (<0x20) — a tab or CR
    // in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${jsonEsc(k)}: ${jsonEsc(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val progressPath = Paths.get(s"$outDir/progress.jsonl")
    Files.deleteIfExists(progressPath)
    def progress(name: String, status: String, err: Option[String],
                 wallSec: Double): Unit = {
      val errJson = err.map(e => s""","err":${jsonEsc(e)}""").getOrElse("")
      val line = s"""{"key":${jsonEsc(name)},"status":"$status"$errJson,""" +
        f""""wall_sec":$wallSec%.3f,"elapsed_sec":${elapsed()}%.1f,""" +
        f""""load_avg":${loadAvg()}%.2f}%n"""
      try Files.writeString(progressPath, line, StandardOpenOption.CREATE,
        StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[verify] progress write failed: ${e.getMessage}")
      }
      ()
    }

    // family-round-robin order (see class doc) — a budget skip spreads
    // across families instead of truncating an alphabetical tail
    val ordered: Seq[String] = {
      val fams = scoped.keys.toSeq.sorted
        .groupBy(_.takeWhile(_ != '_')).toSeq.sortBy(_._1).map(_._2)
      val rounds = if (fams.isEmpty) 0 else fams.map(_.size).max
      (0 until rounds).flatMap(i => fams.flatMap(_.lift(i)))
    }

    val spark = LocalSpark.session()
    var done = 0
    ordered.foreach { name =>
      val fn = scoped(name)
      val overBudget = elapsed() > budget
      val overMax = maxKeys.exists(done >= _)
      if (overBudget || overMax) {
        val why = if (overBudget) "skipped: budget" else "skipped: maxKeys"
        System.err.println(s"[verify] $name $why")
        progress(name, "skipped", Some(why), 0.0)
      } else {
        val tQ = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // Vacuity gate (round 16, verdict): a 0-row result "passes"
          // parity no matter what the query computes (both sides empty).
          // Every key must produce rows at the verify SF, or be
          // explicitly whitelisted (FIXTURES.md §zero-row-whitelist).
          // The count reads parquet footer stats — no data scan.
          val n = spark.read.parquet(s"$outDir/$name").count()
          if (n == 0L && !ZeroRowWhitelist(name))
            throw new IllegalStateException(
              s"0 rows at $sfDir — parity would be vacuous; fix the " +
                "fixture grain or whitelist in FIXTURES.md")
          progress(name, "ok", None, (System.nanoTime() - tQ) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          progress(name, "err", Option(e.getMessage),
            (System.nanoTime() - tQ) / 1e9)
        }
        done += 1
      }
      SparkEntry.endQuery()
    }
    if (stopSession) spark.stop()
  }
}
