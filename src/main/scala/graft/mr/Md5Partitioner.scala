package graft.mr

import org.apache.spark.Partitioner

/** MD5-mod shuffle placement, matching the reference's partition function
  * `int(md5(key.encode()).hexdigest(), 16) % num_partitions`
  * (reference map_reduce/mapreduce/worker/__main__.py:117-121).
  *
  * Spark's default [[org.apache.spark.HashPartitioner]] gives the same
  * *semantics* (equal keys co-located); this partitioner additionally gives
  * the same *placement* as the reference, so part-file contents match
  * byte-for-byte. Keys are WHOLE LINES (the keys of the `(line, count)`
  * records [[MapReduceJob.shuffle]] carries); only their
  * [[MapReduceJob.partitionKey]] feeds the hash. Line
  * keys instead of ((key, line), unit) tuples: the tuple wrapping
  * tripled per-record shuffle serialization (measured in the
  * tools/ref_throughput.py head-to-head). */
class Md5Partitioner(override val numPartitions: Int) extends Partitioner {
  require(numPartitions > 0, s"numPartitions must be positive: $numPartitions")

  override def getPartition(key: Any): Int =
    Md5Partitioner.partition(
      MapReduceJob.partitionKey(String.valueOf(key)), numPartitions)

  override def equals(other: Any): Boolean = other match {
    case p: Md5Partitioner => p.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = numPartitions
}

object Md5Partitioner {
  // MessageDigest.getInstance does a provider lookup per call (~µs) and
  // BigInt.mod allocates; at 34M shuffle records those two dominated the
  // partitioner (profiled via tools/ref_throughput.py). Reuse the digest
  // per thread and reduce the unsigned 128-bit value with a byte-wise
  // Horner mod in a long — value-identical to
  // int(md5(key).hexdigest(), 16) % n for any n (r < n <= 2^31-1, so
  // r * 256 + 255 never overflows a long).
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** int(md5(utf8(key)).hexdigest(), 16) % n, allocation-light. */
  def partition(key: String, n: Int): Int = {
    val md = md5.get()
    md.reset()
    val digest = md.digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var r = 0L
    var i = 0
    while (i < digest.length) {
      r = (r * 256 + (digest(i) & 0xFF)) % n
      i += 1
    }
    r.toInt
  }
}
