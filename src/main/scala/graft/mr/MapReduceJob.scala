package graft.mr

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Spark-native rebuild of the reference MapReduce framework's one dataflow
  * shape (reference map_reduce/mapreduce/worker/__main__.py:89-208,
  * manager/__main__.py:212-424):
  *
  *   scan text dir → map (0..n output lines per input line)
  *   → hash-partition by tab-key (MD5 mod R)
  *   → sort runs / k-way merge (one globally sorted stream per partition)
  *   → reduce (streaming over the sorted stream, grouping by contiguity)
  *   → part-{i:05d} text files
  *
  * All of the reference's cluster plumbing — registration, heartbeats,
  * barriers, retry (manager/__main__.py §2.2 of SURVEY.md) — is deleted,
  * not ported: Spark's DAG scheduler provides it. The entire pipeline is
  * one `repartitionAndSortWithinPartitions` shuffle:
  *   - O4 hash partition → [[Md5Partitioner]] (placement-exact)
  *   - O5 per-partition sort runs → shuffle-write sort (spills, unlike the
  *     reference's in-memory `lines.sort()` at worker/__main__.py:158-161)
  *   - O6 k-way merge → shuffle-read merge (same algorithm as the
  *     reference's `heapq.merge(*files)` at worker/__main__.py:201)
  *
  * The map and reduce steps are [[MapReduceJob.Stage]]s around that one
  * shuffle, in any mix: native functions (`_.flatMap(mapper)`,
  * `_.mapPartitions(reducer)`) or the reference's executables
  * (`_.pipe(cmd)`: the streaming stdin/stdout contract of
  * worker/__main__.py:104-125 map, :194-202 reduce — one process per
  * partition, line-streamed, reduce input sorted with equal keys
  * contiguous).
  *
  * Line/key contract is the reference's exactly: a record is one text
  * line; key = substring before the first tab (worker/__main__.py:115);
  * the framework never parses values. Sort order is (key, wholeLine) —
  * the reference sorts whole lines, which coincides with key-major order
  * for keys free of control chars below '\t' (see SURVEY.md §7.5).
  *
  * At 100 TB: the mapper is a narrow op (pipelined with the scan), the
  * single shuffle is sort-based with spilling, and the reducer streams —
  * nothing here materializes a partition in memory.
  */
final case class MapReduceJob(
    inputDir: String,
    outputDir: String,
    mapStage: MapReduceJob.Stage,
    reduceStage: MapReduceJob.Stage,
    numReducers: Int = 2,
    numMappers: Int = 2,
    wholeFiles: Boolean = false) {

  /** The full dataflow as an RDD of output lines, partitioned exactly as
    * the reference's reduce tasks would be (partition i = part-{i:05d}).
    * `numMappers` is a MINIMUM map-task count: the reference assigns whole
    * files round-robin to exactly N map tasks (manager/__main__.py:
    * 440-455); the scan packs files into byte-sized splits instead
    * (SURVEY.md §7.4) and repartitions up to `numMappers` only when it
    * yields fewer. `wholeFiles = true` restores the reference's
    * granularity exactly — see [[MapReduceJob.inputLines]]. */
  def transform(spark: SparkSession): RDD[String] =
    MapReduceJob.dataflow(
      MapReduceJob.inputLines(spark, inputDir, wholeFiles, numMappers),
      mapStage, reduceStage, numReducers)

  /** Run the job: overwrite outputDir with part-{i:05d} text files (the
    * reference deletes + recreates the output dir at job submission,
    * manager/__main__.py:95-101; saveAsTextFile's Hadoop naming yields
    * part-00000.. exactly like worker/__main__.py:193).
    *
    * `exactPartNames = true` additionally pins BYTE-exact reference output
    * naming (worker/__main__.py:193): exactly `part-{i:05d}` per reduce
    * partition and nothing else in the directory (drops Hadoop's _SUCCESS
    * marker). */
  def run(spark: SparkSession, exactPartNames: Boolean = false): Unit = {
    MapReduceJob.clearDir(spark, outputDir)
    transform(spark).saveAsTextFile(outputDir)
    if (exactPartNames) MapReduceJob.normalizePartNames(spark, outputDir)
  }
}

object MapReduceJob {

  /** A map or reduce step: lines in, lines out. */
  type Stage = RDD[String] => RDD[String]

  /** The one dataflow: map stage → [[shuffle]] → reduce stage. */
  def dataflow(lines: RDD[String], mapStage: Stage, reduceStage: Stage,
      numReducers: Int): RDD[String] =
    reduceStage(shuffle(mapStage(lines), numReducers))

  /** O4+O5+O6 in one shuffle: MD5-mod partition on the tab key, sort by
    * WHOLE LINE within each partition (the reference's own
    * `lines.sort()` order, worker/__main__.py:158 — key-major whenever
    * keys are free of sub-'\t' control chars, see the class scaladoc),
    * stream the merged lines. Records are plain Strings: the earlier
    * ((key, line), unit) form tripled per-record shuffle serialization
    * (34M-record job measured 23.8 s -> 9.5 s after the change +
    * partitioner rework, tools/ref_throughput.py). */
  def shuffle(mapped: RDD[String], numReducers: Int): RDD[String] =
    mapped.map(line => (line, null))
      .repartitionAndSortWithinPartitions(new Md5Partitioner(numReducers))
      .mapPartitions(_.map(_._1), preservesPartitioning = true)

  /** O1/O2 input scan, through Spark's file index (`spark.read.text`).
    * Default: one row per text line, files bin-packed into byte-sized
    * splits (finer-grained than the reference for big files, coarser for
    * many small ones; SURVEY.md §7.4). The index bounds the task count by
    * itself: at `local[4]`, 256 small files pack into 8 splits, not 256.
    * `wholeFiles = true` is the compat knob for MAPPERS WITH PER-FILE
    * STATE: like the reference's round-robin whole-file assignment
    * (manager/__main__.py:440-455), each file is one row, so no file is
    * ever split across map tasks — every file's lines stay contiguous in
    * one partition, in order. Costs memory proportional to the largest
    * file, which is exactly why line splitting is the default at 100 TB.
    *
    * Floor: when the index yields fewer than `numMappers` partitions, the
    * rows (whole files in `wholeFiles` mode, before line splitting) are
    * repartitioned to exactly `numMappers`.
    *
    * Not the `SparkContext` text readers: their Hadoop `FileInputFormat`
    * listing builds a `LocatedFileStatus` per file, which without native
    * Hadoop forks a shell per file to read its permissions — about 1 s of
    * driver time before every job on a 256-file input. Both readers split
    * lines with Hadoop's `LineRecordReader` defaults and skip `_`/`.`
    * files. */
  private[mr] def inputLines(spark: SparkSession, inputDir: String,
      wholeFiles: Boolean, numMappers: Int = 2): RDD[String] = {
    val rows = spark.read.option("wholetext", wholeFiles).text(inputDir)
      .queryExecution.toRdd.map(_.getUTF8String(0).toString)
    val floored =
      if (rows.getNumPartitions < numMappers) rows.repartition(numMappers)
      else rows
    if (wholeFiles) floored.flatMap(_.linesIterator) else floored
  }

  /** key = substring before the first tab (worker/__main__.py:115);
    * a line with no tab is its own key, like Python's split()[0]. */
  def tabKey(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Streaming sorted-group reducer adapter: turns a per-key fold into the
    * reference's whole-partition streaming contract. Groups by contiguity
    * of sorted keys — constant memory, never materializes a group list. */
  def groupedReducer(reduceGroup: (String, Iterator[String]) => IterableOnce[String])
      : Iterator[String] => Iterator[String] = { lines =>
    // named `in` (not `buffered`): inside the anonymous Iterator subclasses
    // below, a local called `buffered` would be shadowed by Iterator's own
    // .buffered member
    val in = lines.buffered
    new Iterator[Iterator[String]] {
      override def hasNext: Boolean = in.hasNext
      override def next(): Iterator[String] = {
        val key = tabKey(in.head)
        val group = new Iterator[String] {
          override def hasNext: Boolean =
            in.hasNext && tabKey(in.head) == key
          override def next(): String = in.next()
        }
        val out = reduceGroup(key, group).iterator.toList
        // drain any unconsumed tail of the group before moving on
        while (group.hasNext) group.next()
        out.iterator
      }
    }.flatten
  }

  private[mr] def clearDir(spark: SparkSession, dir: String): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Rename Hadoop's `part-NNNNN[-extra]` outputs to the reference's exact
    * `part-{i:05d}` (worker/__main__.py:193) and drop the _SUCCESS marker,
    * leaving a byte-compat output directory. A driver-side directory
    * listing + rename — O(R) filesystem ops, no data movement. */
  private[mr] val PartName = "^part-(?:[mr]-)?([0-9]+)$".r

  private[mr] def normalizePartNames(spark: SparkSession, dir: String): Unit = {
    val path = new Path(dir)
    // the RAW filesystem: ChecksumFileSystem (local fs) hides its .crc
    // sidecars from its own listStatus, so they'd survive the cleanup
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other => other
    }
    fs.listStatus(path).foreach { st =>
      val name = st.getPath.getName
      // Hadoop bookkeeping (_SUCCESS marker, .part-*.crc checksums) has no
      // reference counterpart — drop it for byte compat
      if (name.startsWith("_") || name.startsWith(".")) {
        fs.delete(st.getPath, false); ()
      } else {
        // normalize only plain (possibly mapred-style) part names; a
        // suffixed name like part-00000.gz is compressed output whose
        // extension must survive — byte compat doesn't apply to it
        name match {
          case MapReduceJob.PartName(digits) =>
            val target = f"part-${digits.toInt}%05d"
            if (name != target && !fs.rename(st.getPath, new Path(path, target)))
              throw new java.io.IOException(
                s"failed to rename $name to $target in $dir")
          case _ => ()
        }
      }
    }
  }
}
