package graft

import org.apache.spark.sql.DataFrame

/** Fixed-path parquet exports of deterministic DERIVED tables, so that
  * queries whose inputs are engine-defined (xxhash64 minhash signatures,
  * winnow fingerprints, k-means cell assignments) can still be fully
  * hash-gated: the query exports the derived table it consumed, and the
  * DuckDB oracle recomputes all DOWNSTREAM logic (band joins, exact
  * Jaccard verification, recursive-CTE connected components) from that
  * export. The gate then covers everything except the hash kernel
  * itself — which each family pins separately with golden/property
  * tests (SimilaritySpec, WinnowSpec, the nlist=64 argmin test).
  *
  * Paths are keyed by the sf dir, and the ORACLE SQL hardcodes the
  * sf0.01 path ([[oraclePath]]) because the driver contract runs the
  * correctness gate at sf0.01 (Verify writes the export before the
  * driver's DuckDB pass reads it; a bench run at another sf exports to
  * its own path and never clobbers the gate's). Assumes default sketch
  * knobs — the same assumption the gate run itself makes.
  *
  * `spark.graft.oracleExport=false` (set by Bench) skips the writes so
  * timed passes never pay the export I/O. */
object OracleExport {
  private val Base = "/tmp/graft-oracle-export"
  /** The sf the driver's correctness gate runs at (see SURVEY.md §7). */
  private val GateSf = "/root/testdata/sf0.01"

  private def dirFor(tag: String, sfDir: String): String =
    s"$Base/$tag-" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Glob the gate oracle reads for `tag` — embed in oracle SQL. */
  def oraclePath(tag: String): String = dirFor(tag, GateSf) + "/*.parquet"

  /** dir → knob key it was exported under (sentinel "" = knob-free). */
  private val done = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write `df` once per (tag, sfDir) per JVM; no-op when disabled.
    *
    * `knobKey` names the session-knob configuration the exported CONTENT
    * depends on (same convention as the shared-table share keys). The
    * first export pins the key for the JVM; a later export of the same
    * (tag, sfDir) under a DIFFERENT key throws immediately — the oracle
    * SQL hardcodes one path, so a mid-session knob change would otherwise
    * surface as an opaque downstream hash mismatch (the gate comparing
    * default-knob Spark output against a stale non-default export).
    *
    * Failure handling: the in-flight mark is rolled back when the write
    * throws (disk full, transient FS error), so a later caller in the
    * same JVM retries instead of the gate silently reading a missing or
    * stale export.
    *
    * SINGLE-THREADED-EXPORT ASSUMPTION: mark-before-write means a
    * CONCURRENT export of the same (tag, sfDir) no-ops while the first
    * write is still in flight (or about to fail and roll back) and
    * proceeds believing the export exists. Safe today — Verify runs
    * queries serially, and no two prewarm chains export the same tag —
    * but if exports ever move into concurrent chains, store a per-dir
    * holder/future here and block followers on write completion (the
    * Tables.KeyedOnce holder pattern). */
  def export(df: DataFrame, tag: String, sfDir: String,
             knobKey: String = ""): Unit = {
    if (df.sparkSession.conf.get("spark.graft.oracleExport", "true") != "true")
      return
    val d = dirFor(tag, sfDir)
    val prev = done.putIfAbsent(d, knobKey)
    if (prev == null) {
      try df.write.mode("overwrite").parquet(d)
      catch { case e: Throwable => done.remove(d); throw e }
    } else if (prev != knobKey)
      throw new IllegalStateException(
        s"oracle export '$tag' for $sfDir already written under knob key " +
          s"'$prev'; exporting under '$knobKey' would desync the gate " +
          "oracle — keep sketch knobs fixed for the JVM (or restart it)")
  }
}
