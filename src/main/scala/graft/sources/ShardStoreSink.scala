package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSourceV2 SINK with transactional publish — the write-side
  * twin of [[DocGenSource]] (which covers the read surface): a
  * content-sharded text store whose visibility point is a MANIFEST, not
  * a directory listing.
  *
  * The exactly-once protocol (what real lakehouse writers do, distilled):
  *
  *  1. every task attempt writes to `_staging/shard-p<P>-t<TASK>.tsv` —
  *     attempt-unique names, so concurrent speculative/retried attempts
  *     of one partition never clobber each other;
  *  2. a task's `commit()` returns a message naming its staged file;
  *     Spark delivers EXACTLY ONE committed message per partition (the
  *     losing attempt's file is simply never published);
  *  3. the driver's `commit(messages)` picks the next snapshot version
  *     N (1 + the highest committed manifest), renames each winner to
  *     its final `v<N>-shard-<P>.tsv`, deletes the whole staging dir
  *     (orphaned loser attempts vanish), and writes
  *     `manifest-v<N>.json` LAST — readers that resolve shards through
  *     a manifest can never observe a partial or duplicated write,
  *     because the manifest either doesn't exist or names exactly the
  *     committed winners;
  *  4. `abort()` deletes staging and publishes nothing — a failed job
  *     leaves no new manifest, which IS the atomicity guarantee.
  *
  * MANIFEST TIME TRAVEL (r16 verdict item — the lakehouse
  * snapshot-isolation read pattern, Delta's `_delta_log/<v>.json`
  * distilled): every commit is a full immutable SNAPSHOT. Shard files
  * are version-prefixed and never rewritten, so an older snapshot stays
  * byte-stable after any number of later commits; [[ShardStoreSink.read]]
  * resolves the LATEST manifest, [[ShardStoreSink.readAsOf]] pins a
  * historical one. A writer's `mode("overwrite")` therefore means "commit
  * a new full snapshot" — exactly what a lakehouse overwrite does; old
  * versions remain readable until a (not-implemented, deliberate)
  * vacuum. Version selection assumes a single concurrent writer per
  * store — the same assumption the rest of the commit protocol makes; a
  * multi-writer store would CAS the manifest name against a catalog.
  *
  * At 100 TB the same protocol runs against an object store (rename →
  * copy/finalize, manifest → catalog commit); the driver-side state is
  * one small message per partition. Schema is fixed (doc_id BIGINT,
  * payload STRING); payloads are base64-encoded so the
  * shard files stay line-delimited and splittable with no escaping
  * convention. */
class ShardStoreSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardStoreSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("ShardStoreSink requires a path"))
    new ShardStoreSink.ShardTable(path)
  }
}

object ShardStoreSink {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  final class ShardTable(path: String) extends Table with SupportsWrite {
    override def name(): String = s"shardstore($path)"
    override def schema(): StructType = ShardStoreSink.schema
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(info.schema().fieldNames.toSeq == Seq("doc_id", "payload"),
        s"ShardStoreSink wants (doc_id, payload); got ${info.schema()}")
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new ShardBatchWrite(path)
        }
      }
    }
  }

  /** One committed task: partition → its staged file + row/byte tally. */
  final case class ShardCommit(partitionId: Int, staged: String,
    rows: Long, bytes: Long) extends WriterCommitMessage

  final class ShardBatchWrite(path: String) extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      ShardWriterFactory(path)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val base = Paths.get(path)
      Files.createDirectories(base)
      val version = latestVersion(base).getOrElse(0) + 1
      val commits = messages.collect { case m: ShardCommit => m }
      val published = commits.sortBy(_.partitionId).map { m =>
        // version-prefixed finals: a later snapshot can NEVER touch an
        // earlier one's files — that immutability is what makes the
        // historical read below byte-stable
        val target =
          base.resolve(f"v$version%05d-shard-${m.partitionId}%05d.tsv")
        Files.move(Paths.get(m.staged), target,
          StandardCopyOption.REPLACE_EXISTING)
        (target.getFileName.toString, m.rows, m.bytes)
      }
      deleteRec(base.resolve("_staging")) // orphaned loser attempts
      // manifest LAST: its existence is the snapshot's publish point
      val manifest = published.map { case (f, r, b) =>
        s"""{"file":"$f","rows":$r,"bytes":$b}"""
      }.mkString(s"""{"version":$version,"files":[""", ",", "]}")
      Files.write(base.resolve(f"manifest-v$version%05d.json"),
        manifest.getBytes(StandardCharsets.UTF_8))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      deleteRec(Paths.get(path).resolve("_staging"))
      ()
    }
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  final case class ShardWriterFactory(path: String)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] =
      new ShardWriter(path, partitionId, taskId)
  }

  final class ShardWriter(path: String, partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private val staged = {
      val dir = Paths.get(path, "_staging")
      Files.createDirectories(dir)
      dir.resolve(f"shard-p$partitionId%05d-t$taskId.tsv")
    }
    private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
    private var rows = 0L
    private var bytes = 0L

    override def write(r: InternalRow): Unit = {
      // payload base64-encoded: keeps shard files line-delimited and
      // splittable with NO escaping convention (+33% bytes, the
      // standard wire trade; a production store would compress shards)
      val line = r.getLong(0).toString + "\t" +
        java.util.Base64.getEncoder.encodeToString(
          r.getUTF8String(1).toString.getBytes(StandardCharsets.UTF_8))
      out.write(line); out.write("\n")
      rows += 1
      bytes += line.length + 1
    }
    override def commit(): WriterCommitMessage = {
      out.close()
      ShardCommit(partitionId, staged.toString, rows, bytes)
    }
    override def abort(): Unit = {
      out.close()
      Files.deleteIfExists(staged); ()
    }
    override def close(): Unit = ()
  }

  private val ManifestName = """manifest-v(\d{5})\.json""".r

  /** Highest committed snapshot version, if any — one tiny directory
    * listing of the manifest set (what Delta's log replay does; shard
    * DATA is never listed). */
  private[sources] def latestVersion(base: Path): Option[Int] = {
    val names = Option(base.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
    val vs = names.collect { case ManifestName(v) => v.toInt }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Retention vacuum — the lifecycle counterpart of [[readAsOf]]:
    * delete every snapshot older than the newest `keep` versions
    * (manifest FIRST, then its data files, so a concurrent reader that
    * resolved a manifest before the vacuum either reads whole files or
    * fails loudly on a missing file — never a silently truncated
    * snapshot; the lakehouse VACUUM ordering). Kept snapshots are
    * untouched byte-for-byte. Returns the dropped version numbers. */
  def vacuum(path: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"vacuum must keep at least 1 snapshot, got $keep")
    val base = Paths.get(path)
    val latest = latestVersion(base).getOrElse(return Seq.empty)
    val dropped = (1 to latest - keep).filter { v =>
      Files.exists(base.resolve(f"manifest-v$v%05d.json"))
    }
    dropped.foreach { v =>
      Files.deleteIfExists(base.resolve(f"manifest-v$v%05d.json"))
      Option(base.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(f"v$v%05d-shard-"))
        .foreach(f => { Files.deleteIfExists(f.toPath); () })
    }
    dropped
  }

  /** Read a published store back through its LATEST manifest. */
  def read(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    val v = latestVersion(Paths.get(path)).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest at $path — nothing published"))
    readAsOf(spark, path, v)
  }

  /** Snapshot-isolation read `AS OF` manifest `version` (never a
    * directory listing of the data): the driver parses the one tiny
    * pinned manifest, executors read only the named shard files — which
    * later commits never rewrite, so the result is byte-stable however
    * many snapshots follow. */
  def readAsOf(spark: org.apache.spark.sql.SparkSession, path: String,
      snapshot: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val mPath = Paths.get(path, f"manifest-v$snapshot%05d.json")
    require(Files.exists(mPath),
      s"no manifest for version $snapshot at $path")
    val manifest = new String(Files.readAllBytes(mPath), StandardCharsets.UTF_8)
    val files = "\"file\":\"([^\"]+)\"".r.findAllMatchIn(manifest)
      .map(m => Paths.get(path, m.group(1)).toString).toSeq
    spark.read.textFile(files: _*)
      .select(
        split(col("value"), "\t", 2).getItem(0).cast("long").as("doc_id"),
        decode(unbase64(split(col("value"), "\t", 2).getItem(1)), "UTF-8")
          .as("payload"))
  }
}

/** Driver gate for the transactional shard sink: write the documents
  * table through the full staging/commit/manifest protocol into a fresh
  * per-invocation store, read it back THROUGH THE MANIFEST, and reduce
  * to content witnesses (row/id counts, id/char sums, and an
  * md5-prefix-integer content sum — any lost, duplicated, or corrupted
  * row breaks a witness). The DuckDB oracle computes the identical
  * witnesses straight from the documents table, so the green row proves
  * the round trip byte-exact end to end. */
object ShardSinkQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  def qShardSink(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Tables.scratch("shardsink", dir)
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").as("payload"))
      .repartition(4, col("doc_id"))
      .write.format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    ShardStoreSink.read(spark, out)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("doc_id")).as("n_ids"),
        sum(col("doc_id")).cast("bigint").as("id_sum"),
        sum(length(col("payload"))).cast("bigint").as("char_sum"),
        sum(conv(substring(md5(col("payload")), 1, 8), 16, 10)
          .cast("long")).cast("bigint").as("md5_sum"))
  }

  /** Manifest time travel, gated: commit snapshot 1 = the even half of
    * the corpus, snapshot 2 = the full corpus, then read BOTH back
    * `AS OF` their manifests — both reads run AFTER the second commit,
    * so version 1's witnesses passing the oracle proves the old
    * snapshot is byte-stable under later commits (ShardSinkSpec
    * additionally pins the v1 shard files byte-identical). */
  def qShardTimetravel(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Tables.scratch("shardtt", dir)
    val base = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").as("payload"))
    base.filter(col("doc_id") % 2 === 0)
      .repartition(4, col("doc_id"))
      .write.format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    base.repartition(4, col("doc_id"))
      .write.format("graft.sources.ShardStoreSink")
      .option("path", out).mode("overwrite").save()
    def wit(v: Int): DataFrame = ShardStoreSink.readAsOf(spark, out, v)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("doc_id")).as("n_ids"),
        sum(col("doc_id")).cast("bigint").as("id_sum"),
        sum(length(col("payload"))).cast("bigint").as("char_sum"),
        sum(conv(substring(md5(col("payload")), 1, 8), 16, 10)
          .cast("long")).cast("bigint").as("md5_sum"))
      .select(lit(v).as("version"), col("n_rows"), col("n_ids"),
        col("id_sum"), col("char_sum"), col("md5_sum"))
    wit(1).unionByName(wit(2)).orderBy("version")
  }

  /** Snapshot retention, gated: commit three snapshots (evens, odds,
    * full), vacuum keeping the newest two, then read BOTH survivors
    * `AS OF` their manifests. A vacuum that touched a kept snapshot's
    * bytes, dropped the wrong version, or double-counted breaks a
    * witness; ShardSinkSpec pins the physical-deletion side (v1 files
    * gone, pinned read refuses loudly). */
  def qShardVacuum(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Tables.scratch("shardvac", dir)
    val base = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").as("payload"))
    for (slice <- Seq(base.filter(col("doc_id") % 2 === 0),
        base.filter(col("doc_id") % 2 === 1), base))
      slice.repartition(4, col("doc_id"))
        .write.format("graft.sources.ShardStoreSink")
        .option("path", out).mode("overwrite").save()
    val dropped = ShardStoreSink.vacuum(out, keep = 2)
    def wit(v: Int): DataFrame = ShardStoreSink.readAsOf(spark, out, v)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("doc_id")).as("n_ids"),
        sum(col("doc_id")).cast("bigint").as("id_sum"),
        sum(length(col("payload"))).cast("bigint").as("char_sum"),
        sum(conv(substring(md5(col("payload")), 1, 8), 16, 10)
          .cast("long")).cast("bigint").as("md5_sum"))
      .select(lit(v).as("version"), lit(dropped.size).as("n_dropped"),
        col("n_rows"), col("n_ids"), col("id_sum"), col("char_sum"),
        col("md5_sum"))
    wit(2).unionByName(wit(3)).orderBy("version")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_shard_sink" -> qShardSink _,
      "q_shard_timetravel" -> qShardTimetravel _,
      "q_shard_vacuum" -> qShardVacuum _)

  val oracles: Map[String, String] = Map(
    // surviving snapshots after vacuum keep-2 over (evens, odds, full):
    // v2 = odds, v3 = everything, exactly one version dropped
    "q_shard_vacuum" ->
      """SELECT 2 AS version, 1 AS n_dropped, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_sum,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS md5_sum
        |FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT 3 AS version, 1 AS n_dropped, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_sum,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS md5_sum
        |FROM documents
        |ORDER BY version""".stripMargin,
    // the two snapshots' witnesses straight from the documents table:
    // v1 = the even half, v2 = everything — see qShardTimetravel
    "q_shard_timetravel" ->
      """SELECT 1 AS version, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_sum,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS md5_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 2 AS version, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_sum,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS md5_sum
        |FROM documents
        |ORDER BY version""".stripMargin,
    "q_shard_sink" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS char_sum,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS md5_sum
        |FROM documents""".stripMargin)
}
