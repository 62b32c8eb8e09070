package graft.mr

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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
  * one sort-based shuffle ([[MapReduceJob.shuffle]]):
  *   - O4 hash partition → [[Md5Partitioner]] (placement-exact)
  *   - O5 per-partition sort runs → each map task counts its lines and
  *     ships each distinct line once as a `(line, count)` record; the
  *     reduce side sorts them in code-point order (spilling, unlike the
  *     reference's in-memory `lines.sort()` at worker/__main__.py:158-161)
  *   - O6 k-way merge → shuffle-read merge (same algorithm as the
  *     reference's `heapq.merge(*files)` at worker/__main__.py:201), then
  *     each record expands back to `count` copies of its line, so the
  *     reducer reads the same sorted line stream, duplicates included
  *
  * The map and reduce steps are [[MapReduceJob.Stage]]s around that one
  * shuffle, in any mix: native functions (`_.flatMap(mapper)`,
  * `_.mapPartitions(reducer)`) or the reference's executables
  * ([[MapReduceJob.pipeStage]]: the streaming stdin/stdout contract of
  * worker/__main__.py:104-125 map, :194-202 reduce — one process per
  * partition, line-streamed, reduce input sorted with equal keys
  * contiguous).
  *
  * Line/key contract is the reference's exactly: a record is one text
  * line; key = substring before the first tab (worker/__main__.py:115);
  * the framework never parses values. Sort order is the whole line by
  * Unicode code point, Python's string order (see SURVEY.md §7.5); it is
  * key-major for keys free of control chars below '\t'.
  *
  * At 100 TB: the mapper is a narrow op (pipelined with the scan), its
  * line counts are capped, the single shuffle is sort-based with
  * spilling, and the reducer streams — nothing here materializes a
  * partition in memory.
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

  /** An executable step: one `command` process per partition, lines on
    * stdin and stdout in UTF-8 whatever the JVM's default charset (under
    * a POSIX locale that default is ASCII, which turns every non-ASCII
    * char into '?'). */
  def pipeStage(command: String*): Stage =
    _.pipe(command, encoding = "UTF-8")

  /** The one dataflow: map stage → [[shuffle]] → reduce stage. */
  def dataflow(lines: RDD[String], mapStage: Stage, reduceStage: Stage,
      numReducers: Int): RDD[String] =
    reduceStage(shuffle(mapStage(lines), numReducers))

  /** O4+O5+O6 in one shuffle: MD5-mod partition on the tab key, sort by
    * WHOLE LINE in code-point order within each partition (the
    * reference's own `lines.sort()` order, worker/__main__.py:158 —
    * key-major whenever keys are free of sub-'\t' control chars, see the
    * class scaladoc), stream the merged lines.
    *
    * Records are `(line, count)`: each map task counts its lines in a
    * bounded hash map ([[LineCounts]]) and ships every distinct line once
    * per flush, and the reduce side expands each record back to `count`
    * copies ([[expandCounts]]). Equal lines are indistinguishable bytes,
    * so every reducer sees exactly the sorted stream a one-record-per-line
    * shuffle would give it, for any mapper and reducer. On perfbench's
    * `mr_wordcount` (4 vCPU) the shuffle went from 2.24 M to 0.20 M
    * records per pass. No Spark `Aggregator` and no map-side combine
    * flag: the per-task hash map does the counting.
    *
    * Records carry the line itself, not a ((key, line), unit) tuple: the
    * tuple form tripled per-record shuffle serialization (34M-record job
    * measured 23.8 s -> 9.5 s after the change + partitioner rework,
    * tools/ref_throughput.py). */
  def shuffle(mapped: RDD[String], numReducers: Int): RDD[String] =
    shuffle(mapped, numReducers, LineCounts.MaxEntries, LineCounts.MaxChars)

  /** [[shuffle]] with explicit map-side caps (tests force flushes). */
  private[mr] def shuffle(mapped: RDD[String], numReducers: Int,
      maxEntries: Int, maxChars: Long): RDD[String] = {
    val counted = mapped.mapPartitions(
      lines => new LineCounts(lines, maxEntries, maxChars))
    new ShuffledRDD[String, Long, Long](counted,
      new Md5Partitioner(numReducers))
      .setKeyOrdering(CodePointOrder)
      .mapPartitions(expandCounts, preservesPartitioning = true)
  }

  /** Map side of [[shuffle]]: `(line, count)` for every distinct line of
    * `lines`, counted in a `java.util.HashMap`. Repeats of a counted line
    * only bump its count; a NEW line that finds the map holding
    * `maxEntries` lines or `maxChars` chars flushes it (emitted, then
    * cleared), so memory stays bounded on any input and a line may appear
    * in several records of one task. */
  private[mr] final class LineCounts(lines: Iterator[String],
      maxEntries: Int, maxChars: Long) extends Iterator[(String, Long)] {
    private val counts = new java.util.HashMap[String, Array[Long]]()
    private var flushed = counts.entrySet.iterator
    // the new line that found the map full; it opens the next fill
    private var pending: String = _

    override def hasNext: Boolean = flushed.hasNext || {
      fill(); flushed.hasNext
    }

    override def next(): (String, Long) = {
      if (!hasNext) throw new NoSuchElementException("no more line counts")
      val e = flushed.next()
      (e.getKey, e.getValue()(0))
    }

    private def fill(): Unit = {
      counts.clear()
      var chars = 0L
      var full = false
      while (!full && (pending != null || lines.hasNext)) {
        val line = if (pending != null) pending else lines.next()
        pending = null
        val n = counts.get(line)
        if (n != null) n(0) += 1
        else if (counts.size < maxEntries && chars < maxChars) {
          counts.put(line, Array(1L))
          chars += line.length
        } else {
          pending = line
          full = true
        }
      }
      flushed = counts.entrySet.iterator
    }
  }

  private[mr] object LineCounts {
    /** Fixed flush caps: about 10 MB of map-task heap at most, for lines
      * of any length. */
    val MaxEntries: Int = 1 << 16
    val MaxChars: Long = 1L << 22
  }

  /** Reduce side of [[shuffle]]: each `(line, count)` back to `count`
    * copies of `line`, in order, without materializing them. */
  private[mr] def expandCounts(records: Iterator[(String, Long)])
      : Iterator[String] = new Iterator[String] {
    private var line: String = _
    private var left = 0L

    override def hasNext: Boolean = {
      while (left == 0 && records.hasNext) {
        val (l, n) = records.next()
        line = l; left = n
      }
      left > 0
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more lines")
      left -= 1
      line
    }
  }

  /** The reference's line order: Python's string order (Unicode CODE
    * POINTS, the order of CPython's `list.sort` and `heapq.merge`) over
    * NEWLINE-TERMINATED lines, the form the reference worker sorts and
    * merges. The newline only matters on a prefix tie: the shorter
    * line's '\n' meets the longer line's next char, so `a\tx` sorts
    * before `a` ('\t' < '\n') and `a` before `ab`. Java's `compareTo`
    * is UTF-16-unit order, which ranks supplementary-plane characters
    * (surrogate pairs) below [U+E000, U+FFFF]. Compares units up to the
    * first difference and decodes code points only when both differing
    * units are >= U+D800; below that, unit order is code-point order.
    * Unpaired surrogates count as their own code point, as in
    * `codePointAt`. */
  object CodePointOrder extends Ordering[String] {
    override def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      val c = firstDiff(a, b, n)
      if (c != 0 || a.length == b.length) c
      else if (a.length < b.length) afterNewline(b.charAt(n))
      else -afterNewline(a.charAt(n))
    }

    /** Python's order of plain strings (file names): code points, a
      * strict prefix first. */
    val plain: Ordering[String] = (a: String, b: String) => {
      val n = math.min(a.length, b.length)
      val c = firstDiff(a, b, n)
      if (c != 0) c else Integer.compare(a.length, b.length)
    }

    /** A line's virtual '\n' against the longer line's next unit `c`. */
    private def afterNewline(c: Char): Int = if (c == '\n') -1 else '\n' - c

    private def firstDiff(a: String, b: String, n: Int): Int = {
      var i = 0
      while (i < n) {
        val ca = a.charAt(i)
        val cb = b.charAt(i)
        if (ca != cb)
          return if (ca >= '\uD800' && cb >= '\uD800') surrogates(a, b, i)
          else ca - cb
        i += 1
      }
      0
    }

    /** The code points at the first differing unit `i`: if the shared
      * unit before it is a high surrogate, `i` may be the low half of a
      * pair that starts at `i - 1`. */
    private def surrogates(a: String, b: String, i: Int): Int = {
      if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1))) {
        val c = Integer.compare(a.codePointAt(i - 1), b.codePointAt(i - 1))
        if (c != 0) return c
      }
      Integer.compare(a.codePointAt(i), b.codePointAt(i))
    }
  }

  /** O1/O2 input scan, through Spark's file index (`spark.read.text`).
    * Default: one row per text line, files bin-packed into byte-sized
    * splits (finer-grained than the reference for big files, coarser for
    * many small ones; SURVEY.md §7.4). `wholeFiles = true` is the compat
    * knob for MAPPERS WITH PER-FILE STATE: like the reference's
    * round-robin whole-file assignment (manager/__main__.py:440-455),
    * each file is one row, so no file is ever split across map tasks —
    * every file's lines stay contiguous in one partition, in order. Costs
    * memory proportional to the largest file, which is exactly why line
    * splitting is the default at 100 TB.
    *
    * Task count, applied to the rows (whole files in `wholeFiles` mode,
    * before line splitting):
    *  - floor: when the index yields fewer than `numMappers` partitions,
    *    the rows are repartitioned to exactly `numMappers`;
    *  - many small files: the index charges an open cost per file, so at
    *    `local[4]` it packs 256 small files (4 MB) into 8 splits. When it
    *    yields more than `max(numMappers, defaultParallelism)` partitions
    *    and the scanned bytes fit in that many `maxPartitionBytes`
    *    splits, the splits are coalesced (no shuffle) to that count. Each
    *    map task ships its distinct lines once ([[shuffle]]), so an extra
    *    task costs shuffle records as well as a launch.
    *
    * Not the `SparkContext` text readers: their Hadoop `FileInputFormat`
    * listing builds a `LocatedFileStatus` per file, which without native
    * Hadoop forks a shell per file to read its permissions — about 1 s of
    * driver time before every job on a 256-file input. Both readers split
    * lines with Hadoop's `LineRecordReader` defaults and skip `_`/`.`
    * files. */
  private[mr] def inputLines(spark: SparkSession, inputDir: String,
      wholeFiles: Boolean, numMappers: Int = 2): RDD[String] = {
    val qe = spark.read.option("wholetext", wholeFiles).text(inputDir)
      .queryExecution
    val rows = qe.toRdd.map(_.getUTF8String(0).toString)
    val target = math.max(numMappers, spark.sparkContext.defaultParallelism)
    def fitsTarget: Boolean = qe.analyzed.collectFirst {
      case r: LogicalRelation => r.relation
    }.exists {
      case fs: HadoopFsRelation => fs.location.sizeInBytes <=
        target * qe.sparkSession.sessionState.conf.filesMaxPartitionBytes
      case _ => false
    }
    val sized =
      if (rows.getNumPartitions < numMappers) rows.repartition(numMappers)
      else if (rows.getNumPartitions > target && fitsTarget)
        rows.coalesce(target)
      else rows
    if (wholeFiles) sized.flatMap(_.linesIterator) else sized
  }

  /** The shuffle's partition key: the text before the first tab of the
    * NEWLINE-TERMINATED line, as the reference worker hashes
    * `line.split("\t")[0]` on a line that still carries its "\n"
    * (worker/__main__.py:115). A tab-less line's key keeps the newline.
    * [[Md5Partitioner]] and [[WorkerClient]] both place lines by it. */
  def partitionKey(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line + "\n" else line.substring(0, i)
  }

  /** Group key of a map-output line: the substring before the first tab;
    * a line with no tab is its own key. */
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
