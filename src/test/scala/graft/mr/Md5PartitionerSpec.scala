package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

class Md5PartitionerSpec extends AnyFunSuite {

  // Vectors computed with the reference's exact formula
  // int(hashlib.md5(key.encode('utf-8')).hexdigest(), 16) % n
  // (reference worker/__main__.py:117-121).
  val vectors: Seq[(String, Int, Int)] = Seq(
    ("hello", 1, 0), ("hello", 2, 0), ("hello", 4, 2), ("hello", 7, 4), ("hello", 32, 18),
    ("world", 1, 0), ("world", 2, 1), ("world", 4, 3), ("world", 7, 1), ("world", 32, 7),
    ("the", 1, 0), ("the", 2, 1), ("the", 4, 3), ("the", 7, 0), ("the", 32, 23),
    ("a", 1, 0), ("a", 2, 1), ("a", 4, 1), ("a", 7, 0), ("a", 32, 1),
    ("", 1, 0), ("", 2, 0), ("", 4, 2), ("", 7, 1), ("", 32, 30),
    ("zebra", 1, 0), ("zebra", 2, 1), ("zebra", 4, 3), ("zebra", 7, 3), ("zebra", 32, 7),
    ("Straße", 1, 0), ("Straße", 2, 1), ("Straße", 4, 1), ("Straße", 7, 2), ("Straße", 32, 17),
    ("日本語", 1, 0), ("日本語", 2, 0), ("日本語", 4, 0), ("日本語", 7, 0), ("日本語", 32, 12))

  test("matches the reference Python formula on known vectors") {
    vectors.foreach { case (key, n, expected) =>
      assert(Md5Partitioner.partition(key, n) === expected,
        s"partition($key, $n)")
    }
  }

  test("partition is always in [0, n) and stable (property)") {
    val prop = Prop.forAll(Gen.asciiPrintableStr, Gen.choose(1, 64)) {
      (key: String, n: Int) =>
        val p = Md5Partitioner.partition(key, n)
        p >= 0 && p < n && p == Md5Partitioner.partition(key, n)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("line records hash only the tab key; equal R means equal partitioners") {
    val part = new Md5Partitioner(16)
    assert(part.getPartition("hello\tanything") ===
      Md5Partitioner.partition("hello", 16))
    assert(part.getPartition("hello\tother") ===
      Md5Partitioner.partition("hello", 16))
    // a line with no tab is keyed with its newline, as the reference
    // worker splits the newline-terminated line
    assert(part.getPartition("hello world") ===
      Md5Partitioner.partition("hello world\n", 16))
    // Spark compares partitioners to skip re-shuffles: same R, same one
    val twin = new Md5Partitioner(16)
    assert(part === twin)
    assert(part.hashCode === twin.hashCode)
    assert(part !== new Md5Partitioner(8))
  }
}
