package graft

/** VERDICT r18 item 1 kill test: the r18 driver host melted and the
  * external wall cap killed graft.Verify mid-run — and because
  * oracle_sql.json was written LAST, the round's correctness artifact
  * came out EMPTY even though every key was green. This spec drives the
  * real Verify protocol cut at 50% (the deterministic
  * `graft.verify.maxKeys` hook routes through the SAME skip path the
  * wall budget uses) and proves the partial run still yields:
  *
  *  - oracle_sql.json, written FIRST, containing every scoped key;
  *  - a progress.jsonl row for EVERY key — completed keys as ok/err
  *    with their wall time, the cut tail as explicit "skipped";
  *  - parquet dumps for exactly the completed keys.
  */
class VerifyPartialSpec extends SparkSpec {

  test("a Verify run cut at 50% still leaves oracle_sql.json (written " +
    "first) and a progress row for every key") {
    // four keys from four distinct families, so the round-robin order
    // is one per family: agg_rollup, dedup_exact, join_enrich, text_stats
    val keys = Seq("agg_rollup", "dedup_exact", "join_enrich", "text_stats")
    keys.foreach { k =>
      assert(SparkEntry.queries.contains(k) && SparkEntry.oracleSql.contains(k),
        s"spec fixture key missing from the board: $k")
    }
    val out = Scratch.dir("graft_verify_partial_").toString
    spark // force the shared session so Verify's getOrCreate reuses it
    System.setProperty("graft.verify.maxKeys", "2")
    try Verify.run(Array(sf0, out) ++ keys, stopSession = false)
    finally { System.clearProperty("graft.verify.maxKeys"); () }

    // oracle_sql.json: present, structurally a JSON object, all keys in
    val oracle = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$out/oracle_sql.json")).trim
    assert(oracle.startsWith("{") && oracle.endsWith("}"))
    keys.foreach(k => assert(oracle.contains("\"" + k + "\":"),
      s"oracle_sql.json lost key $k in the partial run"))

    // progress.jsonl: one row per key; 2 completed, 2 explicitly skipped
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$out/progress.jsonl"))
    assert(lines.size == keys.size,
      s"expected ${keys.size} progress rows, got ${lines.size}: $lines")
    val completed = lines.stream.filter(l =>
      l.contains("\"status\":\"ok\"") || l.contains("\"status\":\"err\"")).count()
    val skipped = lines.stream.filter(l =>
      l.contains("\"status\":\"skipped\"") &&
        l.contains("skipped: maxKeys")).count()
    assert(completed == 2 && skipped == 2,
      s"expected 2 completed + 2 skipped, got $completed/$skipped: $lines")
    // every row is minimally machine-readable (key + wall + load fields)
    lines.forEach { l =>
      assert(l.contains("\"key\":") && l.contains("\"wall_sec\":") &&
        l.contains("\"load_avg\":"), s"malformed progress row: $l")
    }

    // parquet dumps exist for exactly the completed keys (round-robin
    // family order: agg_rollup, dedup_exact run; join_enrich, text_stats cut)
    assert(new java.io.File(s"$out/agg_rollup").exists())
    assert(new java.io.File(s"$out/dedup_exact").exists())
    assert(!new java.io.File(s"$out/join_enrich").exists())
    assert(!new java.io.File(s"$out/text_stats").exists())
  }
}
