package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import scala.annotation.unused

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 source: a deterministic synthetic document
  * generator — the "source" extension point the reference lacks entirely
  * (its only source is a text directory, SURVEY.md §2.1 O1). Demonstrates
  * the full connector surface: TableProvider → Table → ScanBuilder (with
  * column pruning AND doc_id filter pushdown that prunes whole input
  * partitions, the source-side analogue of parquet row-group skipping)
  * → Batch → InputPartition → PartitionReader.
  *
  * Options: `numDocs` (default 1000), `numPartitions` (default 4),
  * `seed` (default 42). Content is a pure function of (seed, doc_id) —
  * any executor, any retry, same rows (splittable + deterministic, the
  * two properties a 100 TB source must have).
  *
  * Usage: spark.read.format("graft.sources.DocGenSource")
  *          .option("numDocs", 10000).load()
  */
class DocGenSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocGenSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new DocGenTable(properties.asScala.toMap)
}

object DocGenSource {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  private val Words = Array("spark", "scan", "join", "merge", "sort",
    "batch", "stream", "window", "filter", "group", "key", "value",
    "table", "query", "row", "hash")
  private val Langs = Array("en", "es", "de", "fr", "zh")

  /** splitmix64 — deterministic per (seed, id, salt). */
  private def mix(seed: Long, id: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L +
      salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def textFor(seed: Long, id: Long): String = {
    val n = 8 + (mix(seed, id, 0) & 0x7FFFFFFF).toInt % 25
    (0 until n).map { i =>
      Words((mix(seed, id, i + 1) & 0x7FFFFFFF).toInt % Words.length)
    }.mkString(" ")
  }

  def langFor(seed: Long, id: Long): String =
    Langs((mix(seed, id, -1) & 0x7FFFFFFF).toInt % Langs.length)
}

/** Driver-gate query over the custom V2 source. Content is generator-
  * defined (no parquet table to oracle against), so the query EXPORTS the
  * deterministic corpus to a fixed parquet path once per JVM and the
  * DuckDB oracle word-counts that export: a full hash gate instead of the
  * previous rows-only check. The timed/gated query itself still reads the
  * V2 source (the connector stays on the hot path); the export is only
  * the oracle's input. DocGenSourceSpec's golden test additionally pins
  * exact generator values against an independent reimplementation. */
object DocGenQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** Fixed path (not session-temp): the oracle SQL is static text that
    * must name the location at authoring time. Content is a pure function
    * of (seed=42, numDocs=5000), so any JVM writes identical rows;
    * overwrite keeps concurrent/stale runs idempotent. */
  private[graft] val ExportDir = "/tmp/graft-docgen-export-seed42-n5000"
  private val exported = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def source(spark: SparkSession): DataFrame =
    spark.read.format("graft.sources.DocGenSource")
      .option("numDocs", 5000).option("numPartitions", 32).load()

  private def exportOnce(spark: SparkSession): Unit = {
    // honors the same switch as graft.OracleExport: Bench disables
    // exports so timed passes never pay the write.
    // SINGLE-THREADED-EXPORT ASSUMPTION (same as OracleExport.export): a
    // concurrent second caller sees the flag set and proceeds while the
    // first write is still in flight. Safe today — Verify runs queries
    // serially and no prewarm chain exports this tag — but if exports
    // ever move into concurrent chains, use the materializeSharedBy
    // holder pattern (block followers on write completion) instead.
    if (spark.conf.get("spark.graft.oracleExport", "true") != "true") return
    if (exported.compareAndSet(false, true)) {
      // roll the flag back if the write throws (disk full, transient FS
      // error) so a later caller retries instead of the gate oracle
      // reading a missing or stale export for the rest of the JVM
      try source(spark).write.mode("overwrite").parquet(ExportDir)
      catch { case e: Throwable => exported.set(false); throw e }
    }
  }

  /** Word count over the generated corpus — reads ONLY text, so the
    * connector's column pruning is on the hot path (asserted in
    * DocGenSourceSpec). `dir` is unused: the source is synthetic. */
  def qDocgenWordcount(spark: SparkSession, @unused dir: String): DataFrame = {
    exportOnce(spark)
    source(spark)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")
  }

  /** Aggregate PUSHDOWN on the hot path (see [[DocGenAggScan]]): range
    * filter + count/min/max over the V2 source — the scan plans the
    * clamped partitions and emits one bounds-arithmetic row each, so
    * the "corpus scan" costs O(partitions) regardless of corpus size.
    * DocGenSourceSpec asserts the plan (pushed scan schema) and the
    * unsupported-aggregate fallback. */
  def qDocgenStats(spark: SparkSession, @unused dir: String): DataFrame = {
    exportOnce(spark)
    source(spark).filter(col("doc_id") < 3000)
      .agg(count(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_docgen_wordcount" -> qDocgenWordcount _,
      "q_docgen_stats" -> qDocgenStats _)

  val oracles: Map[String, String] = Map(
    "q_docgen_wordcount" ->
      s"""SELECT word, COUNT(*) AS n
         |FROM (SELECT unnest(string_split(text, ' ')) AS word
         |      FROM '$ExportDir/*.parquet') t
         |GROUP BY word ORDER BY word""".stripMargin,
    "q_docgen_stats" ->
      s"""SELECT COUNT(doc_id) AS n_docs, MIN(doc_id) AS min_id,
         |  MAX(doc_id) AS max_id
         |FROM '$ExportDir/*.parquet' WHERE doc_id < 3000""".stripMargin)
}

private class DocGenTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "docgen"
  override def schema(): StructType = DocGenSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = props ++ options.asScala
    new DocGenScanBuilder(
      merged.getOrElse("numdocs",
        merged.getOrElse("numDocs", "1000")).toLong,
      merged.getOrElse("numpartitions",
        merged.getOrElse("numPartitions", "4")).toInt,
      merged.getOrElse("seed", "42").toLong)
  }
}

private[sources] class DocGenScanBuilder(
    numDocs: Long, numPartitions: Int, seed: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.connector.expressions.aggregate._

  // pushed aggregate plan: one tag per accepted function, in order
  private var aggFuncs: Option[Seq[String]] = None

  private def isDocId(e: org.apache.spark.sql.connector.expressions.Expression) =
    e match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference =>
        f.fieldNames.toSeq == Seq("doc_id")
      case _ => false
    }

  /** COUNT(*) / COUNT(doc_id) / MIN(doc_id) / MAX(doc_id) with no
    * grouping are answerable from the PARTITION BOUNDS alone — ids are
    * dense [start, end) per partition and non-null by construction —
    * so the pushed scan emits ONE arithmetic row per partition and
    * never generates a document. PARTIAL pushdown (default
    * supportCompletePushDown = false): Spark still runs the final
    * merge aggregate over the ≤ numPartitions rows, so correctness
    * never depends on the source seeing every partition. Composes with
    * the pushed doc_id range filters: partitions are clamped first,
    * the bounds arithmetic sees the clamped [s, e). */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (agg.groupByExpressions.nonEmpty) return false
    val tags = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case c: Count if !c.isDistinct && isDocId(c.column) => Some("count")
      case m: Min if isDocId(m.column) => Some("min")
      case m: Max if isDocId(m.column) => Some("max")
      case _ => None
    }
    if (tags.exists(_.isEmpty)) false
    else { aggFuncs = Some(tags.flatten); true }
  }

  private var required: StructType = DocGenSource.schema
  // doc_id half-open range implied by the pushed filters; ids are the
  // partition key, so range predicates become PARTITION PRUNING (the
  // source-side analogue of parquet row-group skipping)
  private var lo: Long = 0L
  private var hi: Long = numDocs
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def num(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue)
    case _ => None
  }

  /** doc_id range predicates (and the trivially-true IsNotNull) are
    * evaluated EXACTLY by the id bounds, so they are fully absorbed —
    * returned residuals are only the filters the source can't interpret. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo("doc_id", v) if num(v).isDefined =>
        val x = num(v).get; lo = math.max(lo, x); hi = math.min(hi, x + 1); true
      case GreaterThan("doc_id", v) if num(v).isDefined =>
        lo = math.max(lo, num(v).get + 1); true
      case GreaterThanOrEqual("doc_id", v) if num(v).isDefined =>
        lo = math.max(lo, num(v).get); true
      case LessThan("doc_id", v) if num(v).isDefined =>
        hi = math.min(hi, num(v).get); true
      case LessThanOrEqual("doc_id", v) if num(v).isDefined =>
        hi = math.min(hi, num(v).get + 1); true
      case IsNotNull(_) => true // every column is non-null by construction
      case _ => false
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggFuncs match {
    case Some(funcs) =>
      new DocGenAggScan(numDocs, numPartitions, funcs, lo, hi)
    case None =>
      new DocGenScan(numDocs, numPartitions, seed, required, lo, hi)
  }
}

/** Scan after aggregate pushdown: same partition layout (and the same
  * filter clamping) as the row scan, but each partition reader emits a
  * single row of bounds arithmetic — (count, min, max) partials over
  * dense ids — instead of the documents themselves. */
private[sources] class DocGenAggScan(numDocs: Long, numPartitions: Int,
    funcs: Seq[String], lo: Long, hi: Long)
    extends Scan with Batch {
  // min/max partials are nullable: the empty-clamp marker partition
  // (below) emits NULL for them, exactly what min/max over no rows is
  override def readSchema(): StructType = StructType(
    funcs.zipWithIndex.map { case (f, i) =>
      StructField(s"${f}_$i", LongType, nullable = f != "count")
    })
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (numDocs + numPartitions - 1) / numPartitions)
    val parts = (0L until numDocs by per).flatMap { start =>
      val end = math.min(start + per, numDocs)
      val s = math.max(start, lo)
      val e = math.min(end, hi)
      if (s < e) Some(DocGenPartition(s, e): InputPartition) else None
    }.toArray
    // Pushed doc_id filters can clamp away EVERY partition. This is a
    // PARTIAL pushdown (Spark computes the final COUNT as Sum over the
    // partial rows), and Sum over zero partials is NULL — diverging from
    // the unpushed row-scan result (COUNT of an empty scan is 0). Emit
    // one empty-range marker partition instead: its reader produces the
    // correct empty-input partials (count=0, min/max NULL).
    if (parts.nonEmpty) parts
    else Array(DocGenPartition(0L, 0L): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    DocGenAggReaderFactory(funcs)
}

private case class DocGenAggReaderFactory(funcs: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DocGenPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = { val r = !done; done = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(funcs.map {
        case "count" => java.lang.Long.valueOf(part.end - part.start)
        // empty marker partition (start == end): min/max over no rows
        case "min" =>
          if (part.end <= part.start) null else java.lang.Long.valueOf(part.start)
        case "max" =>
          if (part.end <= part.start) null else java.lang.Long.valueOf(part.end - 1)
      })
      override def close(): Unit = ()
    }
  }
}

private[sources] class DocGenScan(numDocs: Long, numPartitions: Int,
    seed: Long, required: StructType, lo: Long, hi: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Partition boundaries are FIXED by (numDocs, numPartitions) — the
    * pushed id range skips whole partitions and clamps the boundary
    * ones, it never re-shapes the split layout (same contract as file
    * sources: pruning removes splits, it doesn't move them). */
  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (numDocs + numPartitions - 1) / numPartitions)
    (0L until numDocs by per).flatMap { start =>
      val end = math.min(start + per, numDocs)
      val s = math.max(start, lo)
      val e = math.min(end, hi)
      if (s < e) Some(DocGenPartition(s, e): InputPartition) else None
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new DocGenReaderFactory(seed, required.fieldNames)
}

private case class DocGenPartition(start: Long, end: Long) extends InputPartition

private class DocGenReaderFactory(seed: Long, fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DocGenPartition]
    new PartitionReader[InternalRow] {
      private var id = part.start - 1
      override def next(): Boolean = { id += 1; id < part.end }
      override def get(): InternalRow = InternalRow.fromSeq(fields.map {
        case "doc_id" => java.lang.Long.valueOf(id)
        case "text" => UTF8String.fromString(DocGenSource.textFor(seed, id))
        case "lang" => UTF8String.fromString(DocGenSource.langFor(seed, id))
      }.toSeq)
      override def close(): Unit = ()
    }
  }
}
