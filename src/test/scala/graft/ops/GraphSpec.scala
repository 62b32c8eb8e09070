package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Connected components (alternating large-star/small-star): equality
  * with a brute-force union-find reference on random graphs, plus the
  * structured shapes that stress convergence (long paths need the most
  * star rounds; star/cliques contract immediately). */
class GraphSpec extends SparkSpec {

  /** Reference labeling: classic union-find, label = min of component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // second pass: path-compress to the final minima
    nodes.map(n => n -> find(n)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)], tag: String): Map[Long, Long] = {
    import spark.implicits._
    val df =
      if (edges.isEmpty)
        Seq.empty[(Long, Long)].toDF("src", "dst")
      else edges.toDF("src", "dst")
    Graph.connectedComponents(df, tag)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches union-find on random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
    } yield (a, b)
    val prop = Prop.forAll(Gen.listOfN(25, edgeGen)) { es =>
      val clean = es.filter(e => e._1 != e._2)
      ccOf(clean, "prop") == unionFind(clean)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("long path converges to a single min-labeled component") {
    // a 40-node path is the adversarial case for star rounds (diameter 39)
    val path = (0L until 39L).map(i => (i, i + 1))
    val got = ccOf(path, "path")
    assert(got == (0L to 39L).map(_ -> 0L).toMap)
  }

  test("disjoint cliques, reversed/duplicated edges, self-loops") {
    val c1 = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (b, a)
    val c2 = Seq((20L, 21L), (21L, 20L), (20L, 21L), (22L, 21L))
    val loops = Seq((30L, 30L))
    val got = ccOf(c1 ++ c2 ++ loops, "cliq")
    val want = (10L to 13L).map(_ -> 10L).toMap ++
      (20L to 22L).map(_ -> 20L).toMap
    // the self-loop node is isolated after cleaning: absent by contract
    assert(got == want)
  }

  test("empty edge set yields empty labeling") {
    assert(ccOf(Seq.empty, "empty").isEmpty)
  }

  test("star steps preserve canonical orientation") {
    import spark.implicits._
    val e = Seq((5L, 1L), (7L, 5L), (9L, 2L)).toDF("hi", "lo")
    for (step <- Seq(Graph.largeStar(e), Graph.smallStar(e))) {
      val bad = step.filter(col("lo") >= col("hi")).count()
      assert(bad == 0L)
    }
  }
  /** PageRank: the DataFrame fixed-point fold must match a local replay
    * bit-for-bit on a known graph, rank the star center above its
    * leaves, and conserve total mass up to truncation loss. */
  test("pagerank: DataFrame fold == local fixed-point replay; star center dominates") {
    import spark.implicits._
    // tiny star + chain: center 1 linked to 2,3,4; chain 10-11
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
    val e = pairs ++ pairs.map(p => (p._2, p._1))
    // local replay of the same integer fold
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val SCALE = 1000000000L
    var rank = deg.map { case (k, _) => k -> SCALE / n }
    for (_ <- 1 to 6) {
      val contrib = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = contrib.map { case (node, c) =>
        node -> ((15L * SCALE) / (100L * n) + (85L * c) / 100L)
      }
    }
    val got = Graph.pagerank(e.toDF("src", "dst"), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === rank)
    assert(got(1L) > got(2L) && got(2L) === got(3L) && got(3L) === got(4L))
    assert(got(10L) === got(11L))
    // conservation up to truncation: each of the 6 iterations loses < 1
    // unit per node at each of the two integer divisions
    val total = got.values.sum
    assert(total <= SCALE && total >= SCALE - 6 * n * 2 - n)
  }

  test("pagerank: per-round materialization (100 TB discipline) is value-identical and bounds plan depth") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val e0 = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val e = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    // fully consume the lazy-path result BEFORE the second pagerank call:
    // both calls materialize the "pagerank-ce" tag, and the tag GC
    // deletes the first call's dir on replace (the documented
    // materialize-tag rule — a pending lazy frame would read a dead dir)
    val lazyDf = Graph.pagerank(e, iters = 6)
    val lazyRanks = lazyDf.collect()
    val lazyJoins = lazyDf.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    val key = "spark.graft.pagerank.matMinEdges"
    val (matRanks, matJoins) = try {
      spark.conf.set(key, "1") // force the at-scale path on the tiny graph
      val df = Graph.pagerank(e, iters = 6)
      (df.collect(), df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size)
    } finally spark.conf.unset(key)
    assert(matRanks.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      lazyRanks.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // every round (including the last) lands in parquet, so the returned
    // frame is a plain scan — constant (zero-join) depth per action,
    // however many iterations ran; the lazy path carries all six joins
    assert(matJoins === 0, s"materialized-path plan has $matJoins joins")
    assert(lazyJoins === 6)
  }

  /** Brute-force census: canonical edge set → adjacency sets → count
    * triangles by scanning each edge's endpoint-neighborhood overlap. */
  private def bruteCensus(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    // neighborhood-overlap sum counts each triangle once per its 3 edges
    (adj.size.toLong, canon.size.toLong, wedges,
      canon.map { case (a, b) => (adj(a) & adj(b)).size.toLong }.sum / 3)
  }

  private def censusOf(edges: Seq[(Long, Long)]):
      (Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val r = Graph.triangleCensus(edges.toDF("src", "dst")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("triangle census: hand graphs and random graphs match brute force") {
    // K4: 4 nodes, 6 edges, every node degree 3 → wedges 12, triangles 4,
    // clustering 3*4/12 = 1.0 = 10000 bp
    assert(censusOf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))) === ((4L, 6L, 12L, 4L, 10000L)))
    // C4 (square): wedges 4, no triangles
    assert(censusOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) ===
      ((4L, 4L, 4L, 0L, 0L)))
    // duplicate edges / reversed orientation / self-loops are tolerated
    assert(censusOf(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L)))
      === ((3L, 3L, 3L, 1L, 10000L)))
    // random graphs vs brute force
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val edges = Seq.fill(n * 3)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (bn, be, bw, bt) = bruteCensus(edges)
      val (gn, ge, gw, gt, gbp) = censusOf(edges)
      assert((gn, ge, gw, gt) === ((bn, be, bw, bt)), s"trial $trial")
      assert(gbp === 3L * bt * 10000L / bw)
    }
  }

  test("k-core peel: hand graph trajectory and random-graph brute force") {
    import spark.implicits._
    // triangle {1,2,3} with a pendant chain 3-4-5: the chain peels off
    // one node per round, the triangle is the stable 2-core
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("x", "y")
    val traj = Graph.kcorePeel(hand, k = 2, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(traj === Seq((1, 4L, 4L), (2, 3L, 3L), (3, 3L, 3L), (4, 3L, 3L)))

    // random graphs vs a driver-side peeling recompute
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 2) {
      val edges = Seq.fill(60)((rng.nextInt(18).toLong, rng.nextInt(18).toLong))
        .filter(p => p._1 != p._2).distinct
      def peel(es: Set[(Long, Long)]): Seq[(Long, Long)] = {
        var cur = es.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        (1 to 4).map { _ =>
          val deg = cur.toSeq.flatMap(p => Seq(p._1, p._2))
            .groupBy(identity).map { case (n, v) => n -> v.size }
          val keep = deg.filter(_._2 >= 2).keySet
          cur = cur.filter(p => keep(p._1) && keep(p._2))
          (keep.size.toLong, cur.size.toLong)
        }
      }
      val want = peel(edges.toSet).zipWithIndex
        .map { case ((n, e), i) => (i + 1, n, e) }
      val got = Graph.kcorePeel(edges.toDF("x", "y"), k = 2, rounds = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === want, s"trial $trial: $edges")
    }
  }

  test("k-core lazy rounds are value-identical to per-round materialize") {
    import spark.implicits._
    // r21: below spark.graft.kcore.lazyMaxEdges the odd rounds stay lazy
    // (three jobs for six rounds). Pin lazy ≡ eager by forcing the
    // threshold to 0 (every round materializes — the old behavior) and
    // comparing trajectories, on random graphs and on a star that peels
    // to zero edges in round 1 (0 edges must not re-enable lazy rounds).
    val rng = new scala.util.Random(23)
    val random = Seq.fill(2)(
      Seq.fill(80)((rng.nextInt(20).toLong, rng.nextInt(20).toLong))
        .filter(p => p._1 != p._2).distinct)
    val star = (1L to 10L).map(i => (0L, i))
    // rounds r whose edges went through Tables.materialize (kcore_e<r>)
    def materializedRounds(run: => Unit): Set[Int] = {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          "graft-mat-kcore_e(\\d+)-".r.findAllMatchIn(qe.logical.toString)
            .foreach(m => seen.add(m.group(1).toInt))
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        run
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListeners(spark.sparkContext)
      } finally spark.listenerManager.unregister(l)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet - 0
    }
    for ((edges, trial) <- (random :+ star).zipWithIndex) {
      val df = edges.toDF("x", "y")
      def traj(): Seq[(Int, Long, Long)] =
        Graph.kcorePeel(df, k = 2, rounds = 6).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val lazyT = traj() // lastEdges learned in round 1 → rounds 3,5 lazy
      spark.conf.set("spark.graft.kcore.lazyMaxEdges", "0")
      try {
        var eagerT = Seq.empty[(Int, Long, Long)]
        val rounds = materializedRounds { eagerT = traj() }
        assert(lazyT === eagerT, s"trial $trial: $edges")
        assert(rounds === (1 to 6).toSet,
          s"trial $trial: lazyMaxEdges=0 must materialize every round")
      } finally spark.conf.unset("spark.graft.kcore.lazyMaxEdges")
    }
    assert(Graph.kcorePeel(star.toDF("x", "y"), k = 2, rounds = 6)
      .collect().map(_.getLong(2)).toSeq === Seq.fill(6)(0L))
  }

  test("k-truss peel: hand graph trajectory and random-graph brute force") {
    import spark.implicits._
    // K4 on {1..4} (every edge supports 2 triangles — the stable
    // 4-truss) + a lone triangle {10,11,12} (sup 1, peeled in round 1)
    // + a pendant edge (20,21) (sup 0, peeled in round 1)
    val hand = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++
      Seq((20L, 21L))).toDF("a", "b")
    val traj = Graph.ktrussPeel(hand, k = 4, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(traj === Seq((1, 5L, 6L), (2, 4L, 6L), (3, 4L, 6L)))

    // random graphs vs a driver-side support-peel recompute
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val edges = Seq.fill(70)((rng.nextInt(14).toLong, rng.nextInt(14).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
      def peel(es0: Set[(Long, Long)]): Seq[(Long, Long)] = {
        var cur = es0
        (1 to 3).map { _ =>
          val nodes = cur.toSeq.flatMap(p => Seq(p._1, p._2)).distinct.sorted
          val tris = for {
            x <- nodes; y <- nodes if x < y && cur((x, y))
            z <- nodes if y < z && cur((x, z)) && cur((y, z))
          } yield (x, y, z)
          val sup = tris.flatMap { case (x, y, z) =>
            Seq((x, y), (x, z), (y, z)) }
            .groupBy(identity).map { case (e, v) => e -> v.size }
          cur = cur.filter(e => sup.getOrElse(e, 0) >= 2)
          (tris.size.toLong, cur.size.toLong)
        }
      }
      val want = peel(edges.toSet).zipWithIndex
        .map { case ((t, e), i) => (i + 1, t, e) }
      val got = Graph.ktrussPeel(edges.toDF("a", "b"), k = 4, rounds = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === want, s"trial $trial: $edges")
    }
  }

  test("bfs distance: hand graph histogram and random-graph brute force") {
    import spark.implicits._
    def bfsOf(edges: Seq[(Long, Long)]): Seq[(Int, Long, Long)] = {
      val canon = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => p._1 != p._2).distinct
      Graph.bfsDistance(canon.toDF("a", "b"), rounds = 4).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // path 0-1-...-6 (seed = node 0, the only node ≡ 0 mod 20) plus a
    // disconnected pair {7,8}: distances 0..4 reach nodes 0..4, nodes
    // 5,6 are beyond the 4-round cap and 7,8 unreachable — all -1
    val hand = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (7L, 8L))
    assert(bfsOf(hand) === Seq((-1, 4L, 26L), (0, 1L, 0L), (1, 1L, 1L),
      (2, 1L, 2L), (3, 1L, 3L), (4, 1L, 4L)))

    // random graphs vs a driver-side capped-BFS recompute
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 2) {
      val edges = Seq.fill(40)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
        .filter(p => p._1 != p._2).distinct
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (u, vs) => u -> vs.map(_._2).toSet }
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
      var dist = nodes.filter(_ % 20 == 0).map(_ -> 0).toMap
      for (d <- 1 to 4) {
        val frontier = dist.filter(_._2 == d - 1).keySet
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
          .filterNot(dist.contains)
        dist = dist ++ next.map(_ -> d)
      }
      val want = nodes.map(n => dist.getOrElse(n, -1))
        .zip(nodes).groupBy(_._1).toSeq
        .map { case (d, xs) =>
          (d, xs.size.toLong, xs.map(_._2).sum) }
        .sortBy(_._1)
      assert(bfsOf(edges) === want, s"trial $trial: $edges")
    }
  }


  test("personalized pagerank: integer fold == local replay; seeds dominate") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 2) {
      // fixed (0,1) edge guarantees a nonempty seed set (src 0 ≡ 0 mod 20)
      val edges = ((0L, 1L) +: Seq.fill(50)(
        (rng.nextInt(24).toLong, rng.nextInt(24).toLong)))
        .filter(p => p._1 != p._2).distinct
      // driver replay of the integer fold: per-edge floor division,
      // 85% walk + seed-only teleport, absent = 0
      val d = edges.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
      val seeds = edges.map(_._1).distinct.filter(_ % 20 == 0)
      val nS = seeds.size
      val tele = 15L * 1000000000L / (100L * nS)
      var rank = seeds.map(_ -> 1000000000L / nS).toMap
      for (_ <- 1 to 6) {
        val contrib = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((s, t) <- edges; rs <- rank.get(s)) contrib(t) += rs / d(s)
        val next = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        contrib.foreach { case (n, c) => next(n) += 85L * c / 100L }
        seeds.foreach(s => next(s) += tele)
        rank = next.toMap
      }
      val want = rank.toSeq.map { case (n, r) => (n, r) }
        .sortBy { case (n, r) => (-r, n) }
      val e = edges.toDF("src", "dst")
      val ce = e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src")
      val seedDf = e.select(col("src")).distinct()
        .filter(col("src") % 20 === 0)
      val got = Graph.pprCore(ce, seedDf, iters = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sortBy { case (n, r) => (-r, n) }
      assert(got === want, s"trial $trial: $edges")
      // seeds hold the teleport floor: every seed's rank ≥ tele
      val gm = got.toMap
      seeds.foreach(s => assert(gm(s) >= tele, s"seed $s below teleport"))
    }
  }

  test("label propagation: synchronous replay on hand and random graphs") {
    import spark.implicits._
    // driver-side synchronous LPA with the engine's (cnt DESC, label ASC)
    // argmax, then the community-size histogram the query emits
    def lpaLocal(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val canon = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => p._1 != p._2).distinct
      val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
        .map { case (u, vs) => u -> vs.map(_._2) }
      val nodes = canon.flatMap(p => Seq(p._1, p._2)).distinct
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to 4) {
        lab = nodes.map { v =>
          val counts = adj(v).map(lab).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }.toMap
      }
      lab.values.groupBy(identity).toSeq
        .map { case (l, xs) => (l, xs.size.toLong) }
        .groupBy(_._2).toSeq
        .map { case (sz, cs) => (sz, cs.size.toLong, cs.map(_._1).sum) }
        .sortBy(_._1)
    }
    def lpaOf(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
      val canon = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .filter(p => p._1 != p._2).distinct
      Graph.labelProp(canon.toDF("a", "b"), rounds = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    // two triangles joined by a bridge: LPA keeps them separate
    // communities (each triangle's min label wins locally)
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    assert(lpaOf(hand) === lpaLocal(hand))

    val rng = new scala.util.Random(23)
    for (trial <- 1 to 2) {
      val edges = Seq.fill(50)((rng.nextInt(24).toLong, rng.nextInt(24).toLong))
        .filter(p => p._1 != p._2).distinct
      assert(lpaOf(edges) === lpaLocal(edges), s"trial $trial: $edges")
    }
  }

  test("modularity invariants: den = 4m², Q ∈ (0, 1] on the k-NN LPA " +
    "partition, internal edges bounded by m") {
    val r = Graph.qModularity(spark, sf("sf0.001")).head()
    val (m, nc, ein, num, den) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(m > 0 && nc > 0)
    assert(den === 4L * m * m, "mod_den drifted from 4m²")
    assert(ein >= 0 && ein <= m, s"internal edges $ein out of [0, $m]")
    // Q = num/den must be a valid modularity, and the LPA partition of
    // a near-dup k-NN graph is denser than random: Q strictly positive
    assert(num > 0 && num <= den, s"Q out of (0, 1]: $num/$den")
  }
}
