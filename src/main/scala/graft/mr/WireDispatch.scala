package graft.mr

import java.io.{ByteArrayOutputStream, File}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** The wire layer [[ManagerServer]] and [[WorkerClient]] share: the
  * reference's socket conventions (one JSON message per TCP connection,
  * read until the sender closes; 1 s timeouts so shutdown flags are
  * polled), the recursive delete both ends run on job/task scratch dirs,
  * the CLI mains' local session — and the reference manager's
  * task-partitioning arithmetic, placement-exact
  * (reference map_reduce/mapreduce/manager/__main__.py:440-470), kept
  * side-effect-free so task→file assignment parity can be vector-tested
  * the same way Md5Partitioner is.
  *
  * [[inputPartition]] (ref :440-455): sort the LISTING, round-robin deal
  * `input_directory + "/" + file` paths into num_mappers buckets, then —
  * the quirk — `results.sort()` the bucket LIST itself. Python sorts
  * lists lexicographically element-wise with "shorter prefix first", so:
  *   - with more mappers than files, the EMPTY buckets move to the FRONT
  *     of the result: task ids 0..k-1 get no input and the real work
  *     shifts to the tail task ids;
  *   - non-empty buckets never reorder (bucket i leads with sorted
  *     files[i], which ascends with i), so the deal itself is stable.
  *
  * [[inputPartitionReduce]] (ref :457-470): bucket the shared-dir
  * listing by the int of `file.split('-')[-1][4:]` (the `partNNNNN`
  * suffix a map task stamps on its output), then sort each bucket —
  * os.listdir order never leaks into the reduce input order. */
object WireDispatch {

  /** A TCP server bound to host:port (SO_REUSEADDR; port 0 = ephemeral)
    * whose accept polls every 1 s. */
  private[mr] def bindServer(host: String, port: Int): ServerSocket = {
    val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress(host, port))
    server.setSoTimeout(1000)
    server
  }

  /** The reference's receive loop (manager/__main__.py:140-196,
    * worker/__main__.py:302-337): accept one connection at a time, read
    * it until the sender closes (1 s read polls, abandoned once `stopped`),
    * hand the text to `handle`, repeat until `stopped`; then close the
    * server. A failing connection or handler never ends the loop. */
  private[mr] def acceptLoop(server: ServerSocket, stopped: => Boolean)(
      handle: String => Unit): Unit = {
    while (!stopped) {
      val client: Socket =
        try server.accept()
        catch { case _: Exception => null } // timeout, or closed under us
      if (client != null) {
        try {
          client.setSoTimeout(1000)
          val buf = new ByteArrayOutputStream()
          val in = client.getInputStream
          val chunk = new Array[Byte](4096)
          var open = true
          while (open && !stopped) {
            val n =
              try in.read(chunk)
              catch { case _: SocketTimeoutException => 0 }
            if (n < 0) open = false
            else if (n > 0) buf.write(chunk, 0, n)
          }
          handle(buf.toString("UTF-8"))
        } catch { case _: Exception => () }
        finally client.close()
      }
    }
    server.close()
  }

  /** Connect (1 s timeout), send one message, close — the reference's
    * with-socket sendall. Throws when the peer is unreachable. */
  private[mr] def send(host: String, port: Int, json: String): Unit = {
    val s = new Socket()
    try {
      s.connect(new InetSocketAddress(host, port), 1000)
      s.getOutputStream.write(json.getBytes(UTF_8))
      s.getOutputStream.flush()
    } finally { try s.close() catch { case _: Exception => () } }
  }

  /** `rm -rf f` (shutil.rmtree in the reference); missing files are fine. */
  private[mr] def deleteRecursive(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursive))
    f.delete(); ()
  }

  /** The CLI mains' session: `local[SPARK_GRAFT_CPUS]` (default 8) with as
    * many shuffle partitions, no UI, WARN logging. */
  private[mr] def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Python's list.sort() ordering over lists of strings: element-wise
    * code-point comparison, a strict prefix sorts first. */
  private[mr] val pyListOrdering: Ordering[Vector[String]] =
    new Ordering[Vector[String]] {
      def compare(a: Vector[String], b: Vector[String]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = MapReduceJob.CodePointOrder.plain.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }

  /** Map-task input assignment (ref :440-455). Returns
    * `num_mappers` buckets of full input paths; bucket index == task_id. */
  def inputPartition(files: Seq[String], numMappers: Int,
      inputDirectory: String): Vector[Vector[String]] = {
    val sorted = files.sorted(MapReduceJob.CodePointOrder.plain)
    val results = Array.fill(numMappers)(Vector.empty[String])
    var i = 0
    while (i < sorted.length) { // the reference's pop-from-front deal
      results(i % numMappers) :+= inputDirectory + "/" + sorted(i)
      i += 1
    }
    results.toVector.sorted(pyListOrdering) // ref :454 results.sort()
  }

  /** Reduce-task input assignment (ref :457-470): bucket by the
    * partNNNNN suffix, sort within each bucket. */
  def inputPartitionReduce(files: Seq[String], numPartitions: Int,
      tmpdir: String): Vector[Vector[String]] = {
    val results = Array.fill(numPartitions)(Vector.empty[String])
    for (f <- files) {
      val part = f.split('-').last // "partNNNNN"
      val num = part.substring(4).toInt
      results(num) :+= tmpdir + "/" + f
    }
    results.map(_.sorted).toVector
  }
}
