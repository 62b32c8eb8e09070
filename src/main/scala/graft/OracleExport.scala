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
  * its own path and never clobbers the gate's). Sketch parameters are
  * code constants, so every export of a tag has one content per sfDir.
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

  /** Export dirs written (or being written) in this JVM. */
  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Write `df` once per (tag, sfDir) per JVM; no-op when disabled.
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
  def export(df: DataFrame, tag: String, sfDir: String): Unit = {
    if (df.sparkSession.conf.get("spark.graft.oracleExport", "true") != "true")
      return
    val d = dirFor(tag, sfDir)
    if (done.add(d)) {
      try df.write.mode("overwrite").parquet(d)
      catch { case e: Throwable => done.remove(d); throw e }
    }
  }
}
