package graft.ops

import graft.SparkSpec

/** q_range_shard: the oracle pins exactness; these pin the PROPERTIES
  * that make sampled range sharding worth running — full coverage,
  * globally ordered non-overlapping shard ranges, and the balance the
  * sampled cut points are supposed to buy. */
class RangeShardSpec extends SparkSpec {

  test("covers the corpus with 16 ordered, non-overlapping, balanced shards") {
    val dir = sf("sf0.001")
    val rows = RangeShard.qRangeShard(spark, dir).collect()
    assert(rows.map(_.getInt(0)).toSeq === (0 until 16), "shard ids")
    val total = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum === total, "every row lands in a shard")
    // global order: shard i's max key strictly below shard i+1's min key
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) < b.getLong(2),
        s"shards ${a.getInt(0)}/${b.getInt(0)} overlap")
    }
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
    // balance: sampled cut points should keep every shard within a
    // generous envelope of the ideal n/16 (the property a straggler-free
    // sorted write depends on; fixture-measured well inside this)
    val ideal = total.toDouble / 16
    rows.foreach { r =>
      assert(r.getLong(1) <= ideal * 4 && r.getLong(1) >= ideal / 4,
        s"shard ${r.getInt(0)} unbalanced: ${r.getLong(1)} vs ideal $ideal")
    }
  }

  test("bounds are deterministic: two runs produce identical layouts") {
    val dir = sf("sf0.001")
    val a = RangeShard.qRangeShard(spark, dir).collect().map(_.toSeq)
    val b = RangeShard.qRangeShard(spark, dir).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("sample is a bounded COUNT at any corpus size (r15 verdict #1)") {
    // the threshold rule caps the EXPECTED sample at target for any n —
    // check the arithmetic across 6 orders of magnitude…
    for (n <- Seq(10L, 4096L, 100000L, 10000000L, 4000000000L,
        1000000000000L)) {
      val thr = RangeShard.mdThreshold(n, 4096L)
      val expected = n.toDouble * (thr + 1) / 4294967296.0
      assert(expected <= 4096 * 1.35 + 1,
        s"n=$n thr=$thr expected sample $expected exceeds bound")
      if (n > 8192) assert(expected >= 4096 * 0.5, s"n=$n undershoots")
    }
    // …and the MEASURED sample with a tiny target on the real fixture
    // (binomial concentration: 64-target on ~thousands of docs)
    val dir = sf("sf0.001")
    val m = RangeShard.sampleOf(spark, dir, 64).count()
    assert(m >= 16 && m <= 192, s"measured sample $m outside [16,192]")
    // the layout still covers the corpus with ordered shards
    val rows = RangeShard.rangeShardOf(spark, dir, 64).collect()
    val total = graft.Tables(spark, dir, "documents").count()
    assert(rows.map(_.getLong(1)).sum === total)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) < b.getLong(2))
    }
  }
}
