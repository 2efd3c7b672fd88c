package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver bench contract: run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, print the full per-query JSON line followed by a
  * BOUNDED compact summary line (the last stdout line — sized to
  * survive the driver's 2000-char stdout-tail capture, which clipped
  * the head of the full line in round 10 and left the driver artifact
  * unparsed); the full map is also mirrored to BENCH_LATEST.json.
  *
  * Each query is fully evaluated through the noop data source (column
  * pruning can't cheat a count() out of the real work) — the measured
  * time is scan + compute + (for sink queries) the write itself.
  *
  * Measurement protocol v3 (round 17) — ONE full pass, then a
  * SELECTIVE, WALL-BUDGETED second sample of the suspicious keys
  * (`"agg":"min_selective"`). The round-16 driver run was a DNF: two
  * unconditional full passes over a 423-key board ran past the
  * driver's external time cap on a contended host (`BENCH_r16.json`
  * rc=124, pass-1 sum 2095 s vs 595 s on a quiet host), which left the
  * round with NO parseable bench artifact — strictly worse than one
  * with slightly noisier per-key samples. v3 makes completion the
  * invariant:
  *
  *  - Pass 1 runs every query once in sorted order (after an untimed
  *    warmup), exactly as before. If even pass 1 overruns the wall
  *    budget (pathological host), the remaining keys are SKIPPED and
  *    reported machine-readably (`"skipped"`/`"n_skipped"`,
  *    `"partial":true`) — a bounded partial artifact instead of a kill.
  *  - A compact summary line is printed IMMEDIATELY after pass 1, so
  *    even an external kill during the re-sample phase leaves a
  *    parseable artifact in the stdout tail.
  *  - The re-sample phase orders keys by suspicion = t1 / floor (floor
  *    from BASELINE_QUERIES.json; keys without a floor rank by t1) and
  *    re-runs them while the wall budget holds. On a quiet host this
  *    re-samples effectively the whole board (same noise rejection as
  *    the old full pass 2); on a contended host it spends whatever
  *    time remains on the keys most likely to be noise-inflated, and
  *    rc stays 0 either way.
  *
  * The budget (default 2700 s of in-main wall, override
  * SPARK_GRAFT_BENCH_BUDGET_SEC) is sized from the round-16 forensics:
  * pass 1 COMPLETED on the driver host at 2095 s (3.5× our quiet-host
  * 595 s — contention, not plan regressions: every key that finished
  * cleanly kept its relative cost), so the cap that killed the run is
  * ≥ ~2200 s and the old protocol died ~1400 s into its unconditional
  * pass 2. 2700 s lets a 3.5×-contended pass 1 still complete with
  * full coverage, spends whatever remains on re-samples, and exits
  * with time to spare under any cap that admitted round 16's pass 1.
  * A quiet-host run (~600 s pass 1 + ~550 s re-sample) finishes at
  * ~1250 s and never touches the budget.
  *
  * Every 60 queries pass 1 also prints an interim compact line
  * (`"partial":true`), so even an external kill MID-pass-1 leaves a
  * bounded, parseable artifact as the last stdout line instead of log
  * spam (the round-16 tail was 2000 chars of WindowExec WARNs).
  *
  * Session-scoped memo accounting: shared memo relations (near-dup
  * pairs, co-order edges, tokenizer models, …) are CLEARED at the
  * start of pass 1 and rebuilt as their own timed entries
  * (`memo:<name>`) anchored immediately before their first consumer,
  * so shared-pipeline cost appears in the artifact instead of hiding
  * behind the memo-fed queries' cheap reads; those queries are flagged
  * machine-readably in `"memo_fed"`. Re-sampling a memo entry clears
  * and rebuilds it in place (its fed keys keep reading a live memo).
  * A SPARK_GRAFT_ONLY-scoped dev run declares its filter in `"only"`
  * so a scoped artifact can never be mistaken for a full round result.
  *
  * Artifact hygiene (round 17, verdict item 2): the per-query mirror
  * is ALWAYS written to BENCH_LATEST_RUN.json (temp file + atomic
  * rename), but BENCH_LATEST.json — the floor-merge input — is only
  * replaced by a CLEAN run (no failures, no skips). The round-16
  * driver kill mid-run overwrote the committed clean mirror with 109
  * phantom "failed" entries; a dirty run can no longer clobber it.
  *
  * Every timed entry ends with SparkEntry.endQuery() outside its timed
  * span, so the stream replays' parquet + checkpoint state never
  * accumulates across the run.
  */
object Bench {
  /** 1-minute system load average (VERDICT r18 item 4): stamped into the
    * artifact at start/pass-1-end/end so a contended run is machine-
    * distinguishable from a regressed one without cross-referencing
    * other files. -1.0 where the platform has no load notion. */
  private def loadAvg(): Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val wallEpochStart = System.currentTimeMillis() / 1000L
    val loadStart = loadAvg()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    val budget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .map(_.toDouble).getOrElse(2700.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-loop scoping: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    // (unset for the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = LocalSpark.session(aqe = Some(true))
    // `cpus` stamp (VERDICT r19 item 3): the live session's master
    // width, so it cannot drift from the session LocalSpark built;
    // availableProcessors() lies under a reduced-core `local[N]` run and
    // mis-fires the load-adjudication rule, so the host's processor
    // count rides alongside as `host_procs` only
    val cpus = spark.sparkContext.defaultParallelism
    // Known-benign WARN spam (cap-gated unpartitioned windows, judged
    // expected noise in VERDICT r16; join-hint notes) flooded the
    // round-16 stdout tail past the driver's bounded capture and
    // buried the artifact lines. Silence exactly those two loggers —
    // everything else stays at WARN. MUST run AFTER the session
    // exists: Spark (re)initializes log4j2 during session/context
    // startup, which wipes programmatic per-logger levels set before.
    silence("org.apache.spark.sql.execution.window.WindowExec")
    silence("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
    // untimed warmup: JIT, codegen cache, parquet reader init
    SparkEntry.queries.get("agg_rollup").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Family-round-robin pass-1 order (VERDICT r18 item 3): the r18
    // partial run skipped an alphabetical 72-key tail — whole families
    // (stream_*, window_*, text_* tail) lost wholesale. Interleaving
    // one key per family per round means a budget skip costs ≤1–2 keys
    // per family instead of entire families; within a family the order
    // stays alphabetical, so a full run times the same work as before.
    val sortedNames = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val names: Seq[(String, (SparkSession, String) => DataFrame)] = {
      val fams = sortedNames.groupBy(_._1.takeWhile(_ != '_')).toSeq
        .sortBy(_._1).map(_._2)
      val rounds = if (fams.isEmpty) 0 else fams.map(_.size).max
      (0 until rounds).flatMap(i => fams.flatMap(_.lift(i)))
    }
    // memo anchors key off ITERATION order now, not alphabetical order:
    // each memo must build inside the timed entry immediately before
    // its FIRST consumer in the round-robin sequence, or an earlier
    // consumer would pay the build cost (bench misattribution)
    val orderIdx: Map[String, Int] = names.map(_._1).zipWithIndex.toMap
    val memoFed = SparkEntry.memoDeps.flatMap(_._2).distinct
      .filter(orderIdx.contains)
    val floors = readFloors()

    def timed(work: () => Unit): (Double, Boolean) = {
      val t = System.nanoTime()
      val ok = try { work(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] failed: ${e.getMessage}"); false
      }
      val dt = (System.nanoTime() - t) / 1e9
      // cleanup is UNTIMED (ADVICE r17): deleting a stream replay's
      // parquet + checkpoint trees is harness bookkeeping, not query
      // work — charging it to the entry inflated replay keys vs floors
      SparkEntry.endQuery()
      (dt, ok)
    }

    // ---- pass 1: every query once, sorted order, memos cleared up
    // front and rebuilt as timed entries anchored immediately before
    // their first consumer (a pass-leading build would measure with a
    // cold JIT — round 10's 9.7 s unigram train read 15.2 s purely
    // from ordering). Budget check between queries: a pathologically
    // slow host skips the tail instead of dying at the external cap.
    val memoByName = SparkEntry.memos.map(m => m.name -> m).toMap
    val inScope = SparkEntry.memoDeps.filter {
      case (_, fed) => fed.exists(orderIdx.contains)
    }
    inScope.foreach { case (memo, _) => memoByName(memo).clear() }
    val anchor: Map[String, Seq[String]] =
      inScope.map { case (memo, fed) =>
        (fed.filter(orderIdx.contains).minBy(orderIdx), memo)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    val p1 = scala.collection.mutable.ArrayBuffer[(String, Double, Boolean)]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    // per-key completion offset (sec since bench start) of the key's
    // LAST sample — with the load-average stamps this makes a contended
    // window inside one run locatable from the artifact alone
    val tOff = scala.collection.mutable.LinkedHashMap[String, Double]()
    var sinceCheckpoint = 0
    names.foreach { case (name, fn) =>
      if (elapsed() > budget) skipped += name
      else {
        anchor.getOrElse(name, Nil).foreach { memo =>
          val (t, ok) = timed(() => { memoByName(memo)(spark, sfDir); () })
          p1 += ((memo, t, ok))
          tOff(memo) = elapsed()
        }
        val (t, ok) = timed(() =>
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        if (!ok) System.err.println(s"[bench] query was: $name")
        p1 += ((name, t, ok))
        tOff(name) = elapsed()
        sinceCheckpoint += 1
        if (sinceCheckpoint >= 60) {
          sinceCheckpoint = 0
          emit(p1.map { case (n, tt, okk) => (n, (tt, okk)) }.toSeq,
            Nil, memoFed, only, sfDir, cpus, firstPass = p1.map(_._2).sum,
            repassed = 0, budget = budget, partial = true, mirror = false,
            loadStart = loadStart, epochStart = wallEpochStart, tOff = tOff,
            compactOnly = true)
        }
      }
    }
    val loadP1End = loadAvg()

    // best-so-far per entry; re-sampling lowers these in place
    val best = scala.collection.mutable.LinkedHashMap[String, (Double, Boolean)]()
    p1.foreach { case (n, t, ok) => best(n) = (t, ok) }
    emit(best.toSeq, skipped.toSeq, memoFed, only, sfDir, cpus,
      firstPass = p1.map(_._2).sum, repassed = 0, budget = budget,
      partial = true, mirror = false,
      loadStart = loadStart, loadP1 = loadP1End, epochStart = wallEpochStart,
      tOff = tOff)

    // ---- selective re-sample: suspicion order (t/floor desc; no
    // floor → by magnitude), bounded by the remaining wall budget.
    // Each re-run takes the min of its samples, exactly like the old
    // full pass 2 but spending time where noise actually matters.
    // Sweep 1 covers every key that ran except those pass 1 already
    // measured at ≤1.15× floor (a second sample there can neither
    // move the 2× gate nor flag anything — skipping them trims ~1 min
    // of quiet-host wall); sweeps 2–3 revisit only keys still >1.5×
    // their floor (the round-16 "weak" pair were exactly min-of-many
    // floors vs a 2-sample run — extra samples on the outliers
    // re-floor them in the same artifact).
    val fnByName = names.toMap
    def suspicion(n: String, t: Double): Double = floors.get(n) match {
      case Some(f) if f > 0.01 => t / f
      case _ => 1.0 + t // unfloored keys rank by magnitude, above any
                        // floored key that already beat 1×
    }
    def rerun(name: String): (Double, Boolean) = {
      val work: () => Unit = memoByName.get(name) match {
        case Some(memo) => () => { memo.clear(); memo(spark, sfDir); () }
        case None =>
          val fn = fnByName(name)
          () => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      timed(work)
    }
    var repassed = 0
    (1 to 3).foreach { sweep =>
      val candidates = best.toSeq
        .filter { case (_, (_, ok)) => ok }
        .map { case (n, (t, _)) => (n, t, suspicion(n, t)) }
        .filter { case (_, _, susp) =>
          if (sweep == 1) susp > 1.15 else susp > 1.5 }
        .sortBy { case (_, _, susp) => -susp }
      candidates.foreach { case (name, t1, _) =>
        // leave headroom: a re-run costs ~t1 again (plus slack for a
        // contended host); never start one the budget can't absorb
        if (elapsed() + math.max(1.5 * t1, 0.5) < budget) {
          val (t2, ok2) = rerun(name)
          val (tb, okb) = best(name)
          best(name) = (math.min(tb, t2), okb && ok2)
          tOff(name) = elapsed()
          repassed += 1
        }
      }
    }

    val finalCompact =
      emit(best.toSeq, skipped.toSeq, memoFed, only, sfDir, cpus,
        firstPass = p1.map(_._2).sum, repassed = repassed, budget = budget,
        partial = skipped.nonEmpty, mirror = true,
        loadStart = loadStart, loadP1 = loadP1End, epochStart = wallEpochStart,
        tOff = tOff)
    // re-print the compact line AFTER session shutdown so it is the
    // process's final stdout line even if stop() logs or throws — the
    // driver's tail parser reads bottom-up (VERDICT r19 item 2)
    try spark.stop() finally println(finalCompact)
  }

  /** Print the full per-query JSON line + the bounded compact summary
    * (compact LAST — the driver keeps only a bounded stdout tail, and
    * every piece of the compact line is bounded: 10 slowest keys, 10
    * failed names, 10 skipped names → structurally < ~1 KB). With
    * mirror=true, also write the artifact files (see class doc). */
  private def emit(results: Seq[(String, (Double, Boolean))],
                   skipped: Seq[String], memoFed: Seq[String],
                   only: Option[Set[String]], sfDir: String, cpus: Int,
                   firstPass: Double, repassed: Int, budget: Double,
                   partial: Boolean, mirror: Boolean,
                   loadStart: Double = -1.0, loadP1: Double = -1.0,
                   epochStart: Long = 0L,
                   tOff: collection.Map[String, Double] = Map.empty,
                   compactOnly: Boolean = false): String = {
    val total = results.map(_._2._1).sum
    // self-adjudicating host-load stamps (VERDICT r18 item 4); bounded
    // (~100 chars), so they ride the compact line too — adjudication
    // rule documented in BASELINE.md §host-load
    def f2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val loadJson = s""""load_avg":{"start":${f2(loadStart)},""" +
      s""""p1_end":${f2(loadP1)},"now":${f2(loadAvg())}},""" +
      s""""wall_epoch_start":$epochStart,"cpus":$cpus,""" +
      s""""host_procs":${Runtime.getRuntime.availableProcessors()}"""
    val failed = results.filter(!_._2._2).map(_._1)
    // failures are machine-visible: a broken query must not silently
    // pass the bench gate on a near-zero wall time
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val memoFedJson = memoFed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val onlyJson = only.map(_.toSeq.sorted.map("\"" + _ + "\"")
      .mkString(""","only":[""", ",", "]")).getOrElse("")
    if (!compactOnly) {
      val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // per-key completion offsets (sec since start, 2dp): full line /
      // mirror only — unbounded by key count, so never on the compact
      val offJson = tOff.map { case (k, v) => "\"" + k + "\":" + f2(v) }
        .mkString("{", ",", "}")
      val head = s""""metric":"total","value":$total,"unit":"sec","runs":1,""" +
        s""""agg":"min_selective","value_first_pass":$firstPass,""" +
        s""""n_repassed":$repassed,"budget_sec":$budget,"partial":$partial,""" +
        loadJson
      val line = s"""{$head,"memo_fed":$memoFedJson$onlyJson,"queries":$qs,"t_offsets":$offJson,"sf":"$sfDir","n_failed":${failed.size},"failed":$failedJson,"n_skipped":${skipped.size},"skipped":$skippedJson}"""
      println(line)
      if (mirror && only.isEmpty) {
        // always land the run mirror; promote to BENCH_LATEST.json (the
        // floor-merge input) only when the run is CLEAN — temp + atomic
        // rename so a kill mid-write can't leave a torn artifact either
        writeAtomic(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUN_JSON",
          "BENCH_LATEST_RUN.json"), line + "\n")
        if (failed.isEmpty && skipped.isEmpty)
          writeAtomic(sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
            "BENCH_LATEST.json"), line + "\n")
        else System.err.println(
          s"[bench] dirty run (${failed.size} failed, ${skipped.size} " +
            "skipped): BENCH_LATEST.json left untouched")
      }
    }
    def fx(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val slowest = results.sortBy(-_._2._1).take(10)
      .map { case (k, (v, _)) => "\"" + k + "\":" + fx(v) }
      .mkString("{", ",", "}")
    val failedBounded = failed.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val skippedBounded = skipped.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val compact = s"""{"metric":"total","value":${fx(total)},"unit":"sec","runs":1,"agg":"min_selective","value_first_pass":${fx(firstPass)},"n_repassed":$repassed,"partial":$partial,$loadJson,"n_queries":${results.size}$onlyJson,"queries_slowest":$slowest,"queries_full":"BENCH_LATEST.json","sf":"$sfDir","n_failed":${failed.size},"failed":$failedBounded,"n_skipped":${skipped.size},"skipped":$skippedBounded}"""
    // FIXED-PATH compact mirror (VERDICT r19 item 2): every BENCH_r*.json
    // since r15 has parsed:null because the compact stdout line rides
    // sbt's [info] prefix and a multi-line full dump precedes it inside
    // the driver's bounded tail. The compact line (structurally < ~1 KB,
    // no t_offsets) is therefore ALSO written to BENCH_COMPACT.json on
    // every emit — interim partials included, so even an external kill
    // leaves the latest parseable state at a fixed path. Scoped
    // (SPARK_GRAFT_ONLY) runs never clobber it.
    if (only.isEmpty)
      writeAtomic(sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPACT_JSON",
        "BENCH_COMPACT.json"), compact + "\n")
    println(compact)
    compact
  }

  private def writeAtomic(path: String, content: String): Unit =
    try {
      val target = java.nio.file.Paths.get(path)
      val dir = Option(target.toAbsolutePath.getParent)
        .getOrElse(java.nio.file.Paths.get("."))
      val tmp = java.nio.file.Files.createTempFile(dir, ".bench_", ".tmp")
      java.nio.file.Files.writeString(tmp, content)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mirror write failed ($path): ${e.getMessage}")
    }

  /** Per-query floors from BASELINE_QUERIES.json (min-merged over past
    * clean runs) — drives re-sample prioritization. Absent/unparseable
    * file → empty map (every key ranks by pass-1 time). Parsed with a
    * 20-line scan instead of a JSON lib: the file is flat
    * {"key": float, ...} written by tools/make_baseline.py. */
  private def readFloors(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BASELINE_JSON",
      "BASELINE_QUERIES.json")
    try {
      val all = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      // scope the scan to the "queries" object (ADVICE r17): the file
      // also carries numeric metadata (runs, total, n_query_keys, …)
      // that the flat entry regex would otherwise sweep into the floors
      val start = all.indexOf("\"queries\"")
      val open = if (start < 0) -1 else all.indexOf('{', start)
      // open < 0 guard BEFORE the scan loop (ADVICE r18): starting at
      // i = -1 threw StringIndexOutOfBounds and the blanket catch
      // silently degraded re-sample prioritization to an empty map
      val txt = if (start < 0 || open < 0) all else {
        var depth = 0; var i = open; var end = -1
        while (i < all.length && end < 0) {
          all.charAt(i) match {
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ =>
          }
          i += 1
        }
        if (end < 0) all else all.substring(open, end + 1)
      }
      val entry = """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r
      entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
    } catch { case _: Throwable => Map.empty }
  }

  private def silence(logger: String): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      logger, org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
}
