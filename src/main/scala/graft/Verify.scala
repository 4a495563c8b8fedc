package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    run(GraftSession(), sfDir, outDir)
  }

  /** Dump every query's result under `outDir` from `spark`, then stop it. */
  def run(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String): Unit = {
    Tables.assertIdHeadroom(spark, sfDir) // planted-copy offsets need id room
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_ONLY=q1,q2 — dump a subset while iterating locally
    // (tools/check_oracle.py --only passes it through). Unset = all;
    // the driver's gate always runs unset, so the manifest stays full.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Emit the run-independent artifacts BEFORE the query loop: a Verify
    // process killed mid-run (a contended driver window exceeding its t2
    // budget — the empty CORRECTNESS_r12 mechanism) must still leave the
    // oracle SQL, version stamp, and a manifest of every query completed
    // so far, so a partial dump compares as partial results, never as {}.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Engine-version stamp alongside the dump: when a hash drifts, the
    // artifact itself names which Spark produced it (round 6's silent
    // 4.1.2 bump cost a round of diagnosis).
    Files.writeString(Paths.get(s"$outDir/versions.json"),
      s"""{"spark": ${q(spark.version)}, "scala": ${q(util.Properties.versionNumberString)}}""")
    // Manifest of successfully-written queries, APPENDED per query (not
    // written once at the end): the checker fails any registered query
    // missing from it (guards against stale parquet from a previous run
    // silently passing the gate) and a killed run keeps its prefix.
    val manifest = Paths.get(s"$outDir/manifest.txt")
    Files.writeString(manifest, "")
    // Full registry BEFORE the loop (ADVICE r13): the checker's
    // never-completed sweep diffs completions against THIS list, not
    // oracle_sql keys — a rows-only query (no oracle SQL) crashing
    // before its parquet lands must still fail the gate, and a torn
    // mid-append manifest read is detectable as "not a registered name".
    Files.writeString(Paths.get(s"$outDir/registered.txt"),
      SparkEntry.queries.keysIterator.filter(n => only.forall(_.contains(n)))
        .toSeq.sorted.mkString("", "\n", "\n"))
    // Heavy-ORACLE queries run first: an overlapped comparator (the
    // checker starts each query's DuckDB compare the moment its parquet
    // lands) hides a heavy oracle chain under the remaining Spark
    // pass — but only if the chain is submitted early. Order = measured
    // sf0.01 compare seconds, descending, AFTER the r14 MATERIALIZED-CTE
    // rewrite ([[OracleSql]]) collapsed the training chains (35, 34, 33,
    // 27, 3 s — the old 286 s q125 head is now 1.3 s).
    val oracleHeavy = Seq("q120_stream_triage", "q68_incremental_dedup",
      "q32_simhash_bands", "q122_takedown", "q136_ivfpq_pq8_curve",
      "q125_takedown_artifacts", "q117_learned_manifest").zipWithIndex.toMap
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => oracleHeavy.getOrElse(name, Int.MaxValue) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.writeString(manifest, name + "\n",
          java.nio.file.StandardOpenOption.APPEND)
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Message-only by default (the driver greps one line per fail);
        // full stack on demand when diagnosing locally.
        if (sys.env.contains("GRAFT_VERIFY_STACK")) e.printStackTrace()
      }
    }
    spark.stop()
  }
}
