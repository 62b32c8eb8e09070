package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Avro ingestion — the ROW-ORIENTED interchange format (Kafka/connect
  * pipelines and schema-registry shops export Avro container files the
  * way warehouses export ORC/parquet). Completes the interchange matrix:
  * JSONL (text rows), CSV (text columns), ORC + parquet (binary
  * columnar), Avro (binary row). Same gate shape as [[OrcIngest]]:
  * round-trip the documents table through Avro once per session, profile
  * the re-read copy with byte-fidelity witnesses, compare against the
  * oracle's profile of the ORIGINAL parquet.
  *
  * This image ships the Avro CORE jars (`org.apache.avro`) but not the
  * `spark-avro` connector, so both sides are hand-rolled on the public
  * Avro API — which is exactly what they exercise:
  *
  *  - WRITE: one `DataFileWriter[GenericRecord]` per partition (the
  *    standard many-bounded-shards ingest layout; container framing,
  *    writer schema embedded in every file header).
  *  - READ: `binaryFile` source → `DataFileStream` decode per container
  *    in a flatMap. Each TASK decodes whole containers — coarser than
  *    spark-avro's sync-marker splitting, and the right trade at scale
  *    when shard files are bounded (~128 MB): one task per shard is the
  *    same parallelism the splittable reader would choose, without
  *    reimplementing sync-marker scan-and-resync. Unbounded single
  *    containers are the one layout this reader handles worse — noted
  *    in SURVEY §8.
  *
  * Null codec (no compression) keeps the round-trip byte-deterministic
  * and dependency-free; a production writer would set deflate/zstd —
  * codec choice doesn't change the container framing either side parses.
  * Schema is explicit on both sides (never scan a corpus to infer what
  * the catalog already knows). */
object AvroIngest {

  private val SchemaJson =
    """{"type":"record","name":"Document","fields":[
      |{"name":"doc_id","type":"long"},{"name":"text","type":"string"},
      |{"name":"lang","type":"string"},{"name":"source","type":"string"},
      |{"name":"n_chars","type":"long"}]}""".stripMargin

  final case class DocRow(
      doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Write the documents table as `part-NNNNN.avro` container files,
    * once per (session, sf dir). Local staging here; a cluster writes
    * the same containers to DFS — the framing is identical. */
  private[sources] def avroCopy(spark: SparkSession, dir: String): String =
    Tables.staged("avro", dir) { out =>
      val schemaJson = SchemaJson // serialize the STRING, not the Schema
      Tables(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .repartition(8) // bounded container shards — the parallelism unit
        .rdd.mapPartitionsWithIndex { (i, rows) =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          val f = new java.io.File(out, f"part-$i%05d.avro")
          w.create(schema, f)
          var n = 0L
          rows.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("doc_id", r.getLong(0))
            rec.put("text", r.getString(1))
            rec.put("lang", r.getString(2))
            rec.put("source", r.getString(3))
            rec.put("n_chars", r.getLong(4))
            w.append(rec)
            n += 1
          }
          w.close()
          Iterator.single(n)
        }.collect() // bounded: one row count per shard
      ()
    }

  /** Decode the container files back into a DataFrame: binaryFile scan
    * (one row per container) → DataFileStream per container. */
  private[sources] def readAvro(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path + "/*.avro")
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        val rdr = new org.apache.avro.file.DataFileStream(
          new java.io.ByteArrayInputStream(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        new Iterator[DocRow] {
          def hasNext: Boolean = { val h = rdr.hasNext; if (!h) rdr.close(); h }
          def next(): DocRow = {
            val r = rdr.next()
            DocRow(r.get("doc_id").asInstanceOf[Long], r.get("text").toString,
              r.get("lang").toString, r.get("source").toString,
              r.get("n_chars").asInstanceOf[Long])
          }
        }
      }.toDF()
  }

  def qIngestAvro(spark: SparkSession, dir: String): DataFrame = {
    val docs = readAvro(spark, avroCopy(spark, dir))
    docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        min(md5(col("text"))).as("min_h"),
        max(md5(col("text"))).as("max_h"))
      .orderBy("lang", "source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_ingest_avro" -> qIngestAvro _)

  val oracles: Map[String, String] = Map(
    // profiles the ORIGINAL parquet: equality proves the Avro round-trip
    // preserved every row, id, length, and byte of text
    "q_ingest_avro" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_distinct,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  MIN(md5(text)) AS min_h, MAX(md5(text)) AS max_h
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)
}
