package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed connected components over an edge list, via alternating
  * large-star / small-star rounds (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14 — the same public algorithm behind
  * every web-scale dedup clusterer). The reference has no graph operators
  * (SURVEY.md §2.4); this is the piece that turns near-dup PAIRS into
  * duplicate CLUSTERS, which a curation pipeline needs before it can keep
  * one survivor per group of transitively-connected documents.
  *
  * Scale design: each round is two self-contained shuffle stages (a
  * groupBy-min over node neighborhoods and a re-join), the edge set never
  * grows beyond the input neighborhood size, and convergence is
  * O(log n) rounds — no driver-side graph state, no all-pairs anything.
  * Each round's edge set is [[graft.Tables.materialize]]d: the
  * convergence check needs an action per round anyway, and materializing
  * keeps lineage flat (an unmaterialized loop doubles the plan depth per
  * round and re-executes every prior round at each action).
  */
object Graph {

  /** Connected components of the undirected graph given by `edges`
    * (first two columns = endpoint ids, any orientation, self-loops and
    * duplicates tolerated). Returns (node, label) with label = MIN node
    * id of the component, one row per non-isolated node. Isolated nodes
    * never appear (callers `coalesce` their own id as the label).
    *
    * `tag` keys the per-round materializations (unique per call site).
    * Throws after `maxIter` non-converged rounds rather than returning a
    * partially-contracted (wrong) labeling — the algorithm's bound is
    * O(log n) rounds, so 25 covers any graph that fits in storage. */
  def connectedComponents(edges: DataFrame, tag: String,
      maxIter: Int = 25): DataFrame = {
    val cols = edges.columns
    // per-round convergence checksums ride the materialize WRITE job via
    // observe() (the q_kcore CollectMetrics trim: one action per round,
    // not two — the metric may fire once per consuming action, but every
    // emission carries the identical value, so reading any one is safe)
    def matChecked(df: DataFrame, mtag: String): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val out = Tables.materialize(
        df.observe(obs, count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(hi, lo))").as("h")), mtag)
      (out, awaitMetrics(obs) match {
        case Some(m) =>
          (m("n").asInstanceOf[Long],
            Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
        case None => checksum(out)
      })
    }
    // canonical (hi, lo) pairs, lo < hi, dedup'd
    var (e, prev) = matChecked(
      edges.select(
          greatest(col(cols(0)), col(cols(1))).as("hi"),
          least(col(cols(0)), col(cols(1))).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct(),
      s"cc-$tag-0")
    var it = 0
    var converged = prev._1 == 0L
    while (!converged) {
      it += 1
      if (it > maxIter) throw new IllegalStateException(
        s"connectedComponents($tag) did not converge in $maxIter rounds")
      val (e2, cur) = matChecked(smallStar(largeStar(e)), s"cc-$tag-${it % 2}")
      e = e2
      converged = cur == prev
      prev = cur
    }
    // fixpoint = disjoint stars: every edge is (member, component-min)
    e.select(col("hi").as("node"), col("lo").as("label"))
      .unionByName(e.select(col("lo").as("node"), col("lo").as("label")))
      .distinct()
  }

  /** Bounded wait for an [[org.apache.spark.sql.Observation]]'s metrics.
    * The feeding action has ALWAYS completed before this is called, so
    * the normal case returns in milliseconds (listener-bus delivery lag
    * only); None means the metric will NEVER fire — AQE empty-relation
    * propagation can prune or cancel a CollectMetrics subtree whose
    * input is empty (r18 ADVICE: an unbounded Observation.get would
    * hang Verify/Bench indefinitely there). Callers fall back to
    * recomputing the value with a plain action. */
  private def awaitMetrics(
      obs: org.apache.spark.sql.Observation): Option[Map[String, Any]] =
    try {
      // obs.future is the public completion handle (get/getOrEmpty are
      // private[sql] on Spark 4.1); 10 s bounds listener-bus lag without
      // risking a forever-hang on a pruned CollectMetrics
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s"))
      // a pruned subtree can also complete the observation with an
      // empty, schema-less row (a graph peeled to zero edges): no metric
      Option(row.schema).map(_.fieldNames.zipWithIndex.map { case (n, i) =>
        n -> row.get(i)
      }.toMap)
    } catch {
      case _: java.util.concurrent.TimeoutException => None
    }

  /** (count, order-independent hash) of the canonical edge set — the
    * FALLBACK recompute when the observed metrics never arrive; the hot
    * path reads the same aggregates off the materialize job. */
  private def checksum(e: DataFrame): (Long, Long) = {
    // bit_xor, not sum: order-independent like sum but cannot overflow
    // (ANSI mode makes a long-sum of 2^63-scale hashes throw)
    val r = e.agg(count(lit(1)),
      expr("bit_xor(xxhash64(hi, lo))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Large-star: every node u connects each STRICTLY LARGER neighbor to
    * the minimum of its closed neighborhood. Needs symmetric
    * neighborhoods, so the canonical pairs are viewed in both
    * orientations; emitted pairs (v, m) always satisfy m <= u < v, so the
    * output is canonical by construction. */
  private[ops] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), least(col("mn"), col("u")).as("lo"))
      .distinct()
  }

  /** Small-star: every node u connects its smaller neighbors (and itself)
    * to the minimum of those neighbors. Operates directly on the
    * canonical large-to-small orientation; emitted pairs keep lo < hi. */
  private[ops] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("hi").agg(min(col("lo")).as("mn"))
    val relink = e.join(mins, "hi")
      .filter(col("lo") =!= col("mn"))
      .select(col("lo").as("hi"), col("mn").as("lo"))
    relink
      .unionByName(mins.select(col("hi"), col("mn").as("lo")))
      .distinct()
  }

  /** Fixed-point PageRank core over a DIRECTED edge list (col 1 → col 2;
    * callers symmetrize for undirected graphs). Returns (node, rank)
    * with rank in 1/SCALE units, for every node with in-degree ≥ 1. */
  private[ops] def pagerank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000L): DataFrame = {
    val e = edges.select(edges.columns(0), edges.columns(1))
      .toDF("src", "dst")
    // contribution-ready edges (src, dst, src-degree), materialized ONCE:
    // without this every iteration's lineage re-derives the degree
    // aggregate and re-reads the edge source — 6 extra shuffles and ~18
    // re-scans across the final DAG (measured 6.8 s → see Scaladoc)
    pagerankCore(Tables.materialize(
      e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src"),
      "pagerank-ce"), iters, scale)
  }

  /** PageRank iteration over a PREPARED (and materialized) contribution
    * table (src, dst, d). Per-round lineage discipline is THRESHOLDED:
    * below `spark.graft.pagerank.matMinEdges` (default 10M) the six
    * rounds stay one lazy DAG — a single action executes each stage
    * once, and the per-round parquet write/read cycles would only add
    * fixed cost at fixture scale; at or above it every round is
    * [[graft.Tables.materialize]]d like the CC loop, so the plan depth
    * per action stays CONSTANT no matter the iteration count — at
    * 100 TB an unmaterialized 6-round lineage means 12 chained
    * shuffles in one DAG, any executor loss replays the whole chain,
    * and AQE replans the full depth per stage. Alternating round tags
    * (i % 2) keep the round being READ alive while its successor
    * writes. GraphSpec pins both paths value-identical and the
    * materialized path's constant plan depth. */
  private[ops] def pagerankCore(ce: DataFrame, iters: Int,
      scale: Long = 1000000000L, nodes: Option[DataFrame] = None,
      counts: Option[(Long, Long)] = None): DataFrame = {
    val spark = ce.sparkSession
    val minEdges =
      spark.conf.get("spark.graft.pagerank.matMinEdges", "10000000").toLong
    // bounded driver scalars: edge count feeds the threshold, node count
    // the teleport term. With a PREPARED node table (the session-shared
    // path) both are cheap parquet counts — and the registered path
    // passes them in from the session scalar cache (r20); otherwise one
    // combined job.
    val (nEdges, n, nodeDf) = (nodes, counts) match {
      case (Some(nd), Some((e, nn))) => (e, nn, nd)
      case (Some(nd), None) => (ce.count(), nd.count(), nd)
      case _ =>
        val cnts = ce.agg(count(lit(1)), count_distinct(col("src"))).head()
        (cnts.getLong(0), cnts.getLong(1), ce.select(col("src")).distinct())
    }
    val matRounds = nEdges >= minEdges
    var r = nodeDf.select(col(nodeDf.columns.head).as("src"))
      .selectExpr("src AS node", s"${scale}L div ${n}L AS rank")
    for (i <- 1 to iters) {
      val next = ce.join(r, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("rank div d")).as("contrib"))
        .selectExpr("dst AS node",
          s"(15L * ${scale}L) div (100L * ${n}L) + (85L * contrib) div 100L AS rank")
      r = if (matRounds) Tables.materialize(next, s"pagerank-r${i % 2}")
          else next
    }
    r
  }

  /** The reranked top-3 k-NN edge list, session-shared: the graph is a
    * corpus-version artifact consumed by q_triangles AND q_kcore — the
    * rerank pipeline runs once per session, not per census. */
  private[graft] def knnEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "knn3", dir)(
      Vectors.qCosineAnn(spark, dir).select(col("qid"), col("nid")))

  /** Canonicalized (lo < hi, distinct) undirected edge set of the k-NN
    * graph — session-shared: q_triangles AND q_kcore both start from
    * exactly this table, so the dedup shuffle runs once per corpus
    * version (prewarmed), not once per census. */
  private[graft] def knnCanonEdges(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "knncanon", dir) {
      val e = knnEdges(spark, dir)
      e.select(least(col("qid"), col("nid")).as("a"),
          greatest(col("qid"), col("nid")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }

  /** Triangle census + global clustering coefficient of the k-NN
    * similarity graph (third graph operator; the structural-density
    * signal: near-dup clusters triangulate heavily, topical neighbor
    * graphs don't — a cheap corpus-health metric next to the CC sizes).
    *
    * Input choice IS the scale lesson: the census runs on the RERANKED
    * top-3 ANN graph (degree ≤ 2k after symmetrization), not the raw
    * LSH candidate set. Wedge enumeration is Ω(#wedges) no matter how
    * it is ordered, and raw LSH buckets are near-CLIQUES — a hot
    * bucket of c docs contributes ~c³/6 wedges, which measured 39 s at
    * sf0.1 (vs ~2 s on the k-NN graph) and grows cubically with bucket
    * occupancy at 100 TB. Density metrics belong on the bounded-degree
    * k-NN view; the candidate set exists only to be reranked away.
    *
    * Algorithm: degree-ordered wedge counting (Suri & Vassilvitskii,
    * "Counting triangles and the curse of the last reducer", WWW'11).
    * Each undirected edge is oriented from its (degree, id)-smaller
    * endpoint to its larger one; wedges are enumerated only at the apex
    * of two OUT-edges, bounding out-degree at ~√|E| on arbitrary simple
    * graphs (the census core is generic — GraphSpec runs it on random
    * graphs). Counting is two self-joins of the oriented edge set —
    * key-partitioned shuffles, no driver state. All outputs are
    * integers (coefficient in basis points via floor division) →
    * hash-gatable; the oracle recomputes the same top-3 rerank from the
    * anncand export (the q_cosine_ann parity) and the same census. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(knnCanonEdges(spark, dir))

  /** Census core over an arbitrary undirected edge list (first two
    * columns = endpoints, any orientation, duplicates/self-loops
    * tolerated) — see [[qTriangles]] for the algorithm and scale notes. */
  private[ops] def triangleCensus(edges: DataFrame): DataFrame = {
    val cols = edges.columns
    val e = edges.select(least(col(cols(0)), col(cols(1))).as("a"),
        greatest(col(cols(0)), col(cols(1))).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
    // orient u→v iff (d_u, u) < (d_v, v); carry the head's (d, id) so the
    // wedge join can order its two heads without re-joining degrees
    val o = sym.join(deg, "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .filter(col("d") < col("dv") ||
        (col("d") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("dv"))
    val tri = o.as("e1").join(o.as("e2"), col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .join(o.as("e3"), col("e3.u") === col("e1.v") &&
        col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1L) div 2L")).cast("bigint").as("n_wedges"))
    stats.crossJoin(e.agg(count(lit(1)).as("n_edges"))).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        // nullif: a triangle-free matching has zero wedges, and ANSI div
        // by zero throws — a degenerate graph reports NULL, not an error
        expr("(3L * n_triangles * 10000L) div nullif(n_wedges, 0L)")
          .cast("bigint").as("clustering_bp"))
  }

  /** k-core decomposition (k=2) of the same reranked top-3 k-NN graph
    * as [[qTriangles]], by ITERATIVE PEELING: each round removes every
    * node whose degree dropped below k, until the remaining subgraph —
    * the k-core — is stable. The round-by-round (survivors, edges)
    * trajectory is the output: near-dup clusters survive peeling (their
    * members keep each other's degrees up) while thin topical chains
    * evaporate — the corpus-density metric complementing the triangle
    * census, and the standard first cut for dense-subgraph/spam-farm
    * detection on similarity graphs.
    *
    * Scale shape: each round is one degree aggregation + two semi
    * joins over the CURRENT edge set (which only shrinks), with
    * per-round materialization keeping lineage flat — the CC-loop
    * discipline; the round count is a bounded driver scalar. All
    * outputs integers → hash-gatable; the oracle replays the rerank
    * from the anncand export and unrolls the same six peel rounds as
    * CTEs (the PageRank pattern). Six rounds reach the fixpoint on the
    * fixture — and the trajectory being PART OF THE OUTPUT means a
    * convergence regression is visible, not silent. */
  def qKcore(spark: SparkSession, dir: String): DataFrame =
    // the session-cached canon edge count seeds the lazy-round gate so
    // round 1 can skip its materialize too (see kcorePeelCanon)
    kcorePeelCanon(knnCanonEdges(spark, dir), k = 2, rounds = 6,
      nCanonEdges = Some(Tables.cachedCount(s"knncanon:$dir")(
        knnCanonEdges(spark, dir))))

  /** 4-truss decomposition trajectory (Cohen 2008 — "Trusses: cohesive
    * subgraphs for social network analysis"): iteratively delete every
    * edge supporting fewer than k−2 triangles until the remaining
    * subgraph is the k-truss (registered at k = 3 — the
    * triangle-supported subgraph; the sparse top-3 k-NN graph's 4-truss
    * is empty by round 2, GraphSpec pins k = 4 on hand graphs) — the standard cohesion notion STRICTER
    * than the degree-based k-core (q_kcore's sibling: a truss edge's
    * endpoints share ≥ k−2 common neighbors, so trusses are immune to
    * the star/hub artifacts that survive core peeling). Runs on the
    * session-shared bounded-degree k-NN graph (the q_triangles lesson —
    * never the near-clique LSH candidate set). Per round: one
    * self-join triangle enumeration over the canonical edge set (each
    * triangle found once via the a<b<c ordering), per-edge support
    * counts, and an edge semi-join — two keyed shuffles plus the
    * wedge join, with the per-round survivor set materialized (the
    * k-core discipline). Integer trajectory = hash-gatable; the oracle
    * unrolls the rounds as MATERIALIZED CTEs from the anncand export. */
  def qKtruss(spark: SparkSession, dir: String): DataFrame =
    ktrussPeel(knnCanonEdges(spark, dir), k = 3, rounds = 3)

  /** Peel core over an ALREADY canonical (a < b, distinct) edge table —
    * see [[qKtruss]]. Emits per round: the input edge set's triangle
    * count (Σ support / 3 — exact) and the surviving edge count. */
  private[ops] def ktrussPeel(canon: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val spark = canon.sparkSession
    var e = canon
    val rows = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      // each triangle x<y<z enumerated exactly once off the canonical
      // ordering; support = triangle incidences per canonical edge.
      // The three per-triangle edges leave the wedge join through ONE
      // explode (r21): the old three-branch union re-read the join
      // tower once per branch, which is why sup used to be materialized
      // (a SECOND action + parquet write/read cycle per round). With
      // the explode the wedge join executes once inside the e
      // materialize job, so each round is ONE job end to end — wedge
      // join → explode → support agg → semi join — with both census
      // metrics riding it via observe() (bounded-wait fallbacks as
      // before). The explode rows are the identical (a, b) multiset the
      // union produced, so support counts — and the whole trajectory —
      // are value-identical.
      val t = e.as("e1")
        .join(e.as("e2"),
          col("e2.a") === col("e1.a") && col("e1.b") < col("e2.b"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"),
          col("e2.b").as("z"))
      val obsS = org.apache.spark.sql.Observation(s"ktruss_sup_$r")
      val sup = t.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("x").as("a"), col("z").as("b")),
          struct(col("y").as("a"), col("z").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
        .observe(obsS, coalesce(sum(col("sup")), lit(0L)).as("s"))
      val obsE = org.apache.spark.sql.Observation(s"ktruss_edges_$r")
      e = Tables.materialize(
        e.join(sup.filter(col("sup") >= k - 2), Seq("a", "b"),
          "left_semi")
          .observe(obsE, count(lit(1)).as("n")),
        s"ktruss_e$r")
      val nEdges = awaitMetrics(obsE) match {
        case Some(m) => m("n").asInstanceOf[Long]
        case None => e.count()
      }
      // read AFTER the materialize action (sup's subtree executes
      // inside it); fallback recomputes the census only on a pruned
      // CollectMetrics (degenerate triangle-free round)
      val nTri = (awaitMetrics(obsS) match {
        case Some(m) => m("s").asInstanceOf[Long]
        case None => sup.agg(coalesce(sum(col("sup")), lit(0L)).as("s"))
          .collect().head.getLong(0)
      }) / 3
      rows += ((r, nTri, nEdges))
    }
    import spark.implicits._
    rows.result().toDF("round", "n_triangles", "n_edges")
  }

  private[ops] def kcorePeel(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val cols = edges.columns
    kcorePeelCanon(Tables.materialize(
      edges.select(least(col(cols(0)), col(cols(1))).as("a"),
          greatest(col(cols(0)), col(cols(1))).as("b"))
        .filter(col("a") =!= col("b")).distinct(), "kcore_e0"),
      k, rounds)
  }

  /** Peel core over an ALREADY canonical (a < b, distinct, materialized)
    * edge table — see [[qKcore]]; split out so the session-shared
    * [[knnCanonEdges]] table feeds it without a per-query re-dedup.
    *
    * ROUND MATERIALIZATION IS SIZE-CONDITIONAL (r21, the pagerank
    * matMinEdges discipline): below spark.graft.kcore.lazyMaxEdges the
    * odd rounds stay LAZY and only every second round materializes, so
    * six peel rounds cost three jobs instead of six; 0 means never lazy
    * (every round materializes, even once peeling reaches 0 edges). A lazy round's
    * subtree appears three times in its successor's plan (sym reads e
    * twice, the semi join once), but the expensive parts dedupe at
    * runtime — the degree aggregate is exchange-rooted and the keep
    * frame broadcast-rooted, both covered by ReuseExchange (the r20
    * lesson: only non-exchange-rooted towers replicate) — leaving three
    * cheap map-side re-probes of the previous materialized scan. Above
    * the threshold every round materializes exactly as before (lineage
    * stays flat at 100 TB; the r20 BFS revert showed multi-reference
    * lazy rounds compound, which is why only ONE lazy level is ever
    * stacked). The gate uses the last KNOWN edge count — peeling only
    * removes edges, so it upper-bounds the true size (conservative);
    * with no count provided, round 1 materializes and learns it.
    * Metric reads for a lazy round defer until the next materialize
    * action has executed its subtree (the observe()s fire there — up to
    * three emissions, all carrying identical values, the documented
    * safety rule), with the bounded-wait recompute fallbacks intact. */
  private[ops] def kcorePeelCanon(canon: DataFrame, k: Int,
      rounds: Int, nCanonEdges: Option[Long] = None): DataFrame = {
    val spark = canon.sparkSession
    val lazyMax =
      spark.conf.get("spark.graft.kcore.lazyMaxEdges", "5000000").toLong
    var e = canon
    // last KNOWN surviving-edge count (upper bound of the current size)
    var lastEdges: Option[Long] = nCanonEdges
    val rows = Seq.newBuilder[(Int, Long, Long)]
    final case class Pend(round: Int, obsK: org.apache.spark.sql.Observation,
      obsE: org.apache.spark.sql.Observation, keep: DataFrame,
      eRound: DataFrame)
    var pending = List.empty[Pend]
    def flush(): Unit = {
      pending.reverse.foreach { pd =>
        val nKeep = awaitMetrics(pd.obsK) match {
          case Some(m) => m("n").asInstanceOf[Long]
          case None => pd.keep.count()
        }
        val nEdges = awaitMetrics(pd.obsE) match {
          case Some(m) => m("n").asInstanceOf[Long]
          case None => pd.eRound.count()
        }
        rows += ((pd.round, nKeep, nEdges))
        lastEdges = Some(nEdges)
      }
      pending = Nil
    }
    for (r <- 1 to rounds) {
      val sym = e.select(col("a").as("u"))
        .unionByName(e.select(col("b").as("u")))
      // keep is consumed three times per round but is a TINY frame:
      // materializing it was A/B'd at sf0.1 and LOST (~+0.5 s/round of
      // write/read against ~-0.2 s of saved recompute) — the
      // cheap-frame materialization anti-pattern from the invariants.
      // Its COUNT piggybacks on the consuming job via observe()
      // (CollectMetrics) instead of a standalone recompute of the
      // degree shuffle per round; multiple emissions all carry the
      // identical count, so the value is safe either way. The read is
      // BOUNDED (awaitMetrics): on a degenerate empty round AQE can
      // prune the observed subtree so the metric never fires — fall
      // back to recomputing the count (r18 ADVICE item).
      val obs = org.apache.spark.sql.Observation(s"kcore_keep_$r")
      val keep = sym.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      val observed = keep.observe(obs, count(lit(1)).as("n"))
      val obsE = org.apache.spark.sql.Observation(s"kcore_edges_$r")
      val next = e
        .join(observed.withColumnRenamed("u", "a"), Seq("a"), "left_semi")
        .join(observed.withColumnRenamed("u", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .observe(obsE, count(lit(1)).as("n"))
      val doLazy = lazyMax > 0 &&
        lastEdges.exists(_ <= lazyMax) && r % 2 == 1 && r < rounds
      e = if (doLazy) next else Tables.materialize(next, s"kcore_e$r")
      pending ::= Pend(r, obs, obsE, keep, e)
      if (!doLazy) flush()
    }
    import spark.implicits._
    rows.result().toDF("round", "n_nodes", "n_edges")
  }

  /** Contribution-ready (src, dst, d) table for [[qPagerank]]: the
    * symmetrized ANN-candidate edges joined with their out-degrees — a
    * corpus-version artifact like [[knnEdges]], session-shared and
    * prewarmed so the per-query cost is the rank iteration itself, not
    * the edge preparation. */
  private[graft] def pagerankEdges(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "prce", dir) {
      val cand = Vectors.annCandidatesExported(spark, dir)
      val e = cand.select(col("qid").as("src"), col("nid").as("dst"))
        .unionByName(cand.select(col("nid").as("src"), col("qid").as("dst")))
      e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src")
    }

  /** Distinct source nodes of [[pagerankEdges]] — shared like the edge
    * table itself (the per-run count_distinct + distinct shuffles were
    * ~25% of q_pagerank's steady-state cost). */
  private[graft] def pagerankNodes(spark: SparkSession,
      dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "prnodes", dir)(
      pagerankEdges(spark, dir).select(col("src")).distinct())

  /** Link-authority scoring (PageRank, Page et al. 1999) over the ANN
    * similarity graph — the second distributed-ITERATIVE operator next
    * to [[connectedComponents]], and a curation signal (centrality of a
    * document inside its similarity neighborhood: high-authority nodes
    * are canonical copies, low ones are periphery/noise).
    *
    * Hash-gated exactly because the arithmetic is FIXED-POINT INTEGER:
    * ranks live in 1e-9 units as BIGINTs, every update is integer
    * div/mul/sum (deterministic under any partitioning and any engine —
    * float PageRank would diverge across summation orders), and the
    * oracle replays the same six iterations as unrolled CTEs over the
    * gate's anncand export with DuckDB's floor division (equal to
    * truncation here — every quantity is non-negative).
    *
    * Scale shape: per iteration one join edges⋈ranks on src + one
    * groupBy dst — two key-partitioned shuffles over the EDGE set, like
    * a CC round; the fixture's graph is small so the six-round lineage
    * stays unmaterialized, at 100 TB each round would ride
    * [[graft.Tables.materialize]] like the CC loop. N (node count) is a
    * bounded driver scalar (the k-means-state pattern). Undirected
    * symmetrization means every node has in- and out-degree ≥ 1 — no
    * dangling-mass redistribution term needed. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame =
    // 4 oracle-pinned rounds (was 6 — the q_ppr_seeds precedent, r19
    // VERDICT-endorsed trim: each round is a join + groupBy pair of
    // jobs; the integer fixed-point ranking is already stable on the
    // fixture's top-20 at 4)
    pagerankCore(pagerankEdges(spark, dir), iters = 4,
      nodes = Some(pagerankNodes(spark, dir)),
      counts = Some((
        Tables.cachedCount(s"pr-edges:$dir")(pagerankEdges(spark, dir)),
        Tables.cachedCount(s"pr-nodes:$dir")(pagerankNodes(spark, dir)))))
      .orderBy(desc("rank"), asc("node")).limit(20)

  /** Multi-source BFS distance over the k-NN similarity graph — the
    * REACHABILITY primitive next to CC (membership), PageRank
    * (authority), triangles/k-core (density): hop distance from a seed
    * set, capped at `rounds`. The curation reading: seeds = a vetted
    * high-quality subset; a document's hop distance through the
    * similarity graph is a cheap quality prior (near-neighbors of good
    * docs are likelier good), and the distance HISTOGRAM is the corpus-
    * level view — how much of the graph is within k hops of the vetted
    * core, how much unreachable.
    *
    * Semantics are distance-CAPPED by construction (dist ≤ rounds, else
    * -1), so the output is well-defined without a convergence check.
    * Scale shape per round: one join frontier⋈edges + one groupBy-min —
    * the CC-round cost envelope, edge-set-partitioned, no driver state;
    * each round is [[graft.Tables.materialize]]d with alternating tags
    * (read round r-1 stays alive while round r writes — the PageRank
    * tag discipline). Seeds are id-keyed (node % 20 == 0): content-blind
    * but deterministic and SQL-expressible, so the DuckDB oracle replays
    * the same rounds as unrolled materialized CTEs over the anncand
    * export (the q_kcore pattern). All-integer output → hash-gated;
    * sum_nodes is the per-distance id checksum (a wrong-but-same-size
    * level set still fails the gate). */
  def qBfsDistance(spark: SparkSession, dir: String): DataFrame =
    bfsDistance(knnCanonEdges(spark, dir), rounds = 4)

  /** BFS core over an ALREADY canonical (a < b, distinct) edge table —
    * see [[qBfsDistance]]. Exposed for GraphSpec's crafted graphs.
    *
    * Per-round materialization is UNCONDITIONAL here, unlike the
    * thresholded pagerank loop (an r20 lazy-path experiment was
    * reverted): each BFS round references the previous round TWICE
    * (the carry-forward union AND the relaxation join), so a lazy
    * loop's plan DOUBLES per round — the formatted plan at 4 rounds
    * carried ~2⁴ replicated subtrees (the q_kcore unrolled-CTE 3^k
    * lesson in DataFrame form) — and the measured win was zero even
    * at fixture scale. PageRank's rounds reference the previous round
    * once, which is why its lazy path stays linear and keeps the
    * threshold. */
  private[ops] def bfsDistance(canon: DataFrame, rounds: Int): DataFrame = {
    val sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
    val nodes = canon.select(col("a").as("u"))
      .unionByName(canon.select(col("b").as("u"))).distinct()
    var dist = nodes.filter(col("u") % 20 === 0)
      .select(col("u").as("node"), lit(0).as("dist"))
    for (r <- 1 to rounds) {
      val relaxed = sym.join(dist, col("u") === col("node"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = Tables.materialize(
        dist.unionByName(relaxed)
          .groupBy("node").agg(min(col("dist")).as("dist")),
        s"bfs-r${r % 2}")
    }
    nodes.join(dist, col("u") === col("node"), "left")
      .select(coalesce(col("dist"), lit(-1)).as("dist"), col("u"))
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"), sum(col("u")).as("sum_nodes"))
      .orderBy("dist")
  }

  /** PERSONALIZED PageRank from the same id-keyed seed set as
    * [[qBfsDistance]] (node % 20 == 0): teleport mass flows only to
    * the seeds, so rank measures random-walk proximity to the vetted
    * core — the WEIGHTED companion to BFS hop distance (two docs at
    * hop 2 can differ 100× in walk mass when one sits behind many
    * parallel paths). Same fixed-point INTEGER arithmetic as
    * [[qPagerank]] (1e-9 BIGINT units, per-edge floor division) so the
    * iteration is deterministic under any partitioning and
    * hash-gatable; the DuckDB oracle unrolls the same four iterations
    * with the teleport term routed to the seed rows only. Nodes with zero walk
    * mass and no seed membership are ABSENT (rank 0), which keeps the
    * iterated frame proportional to the reachable set — at 100 TB a
    * tight seed set iterates over its neighborhood, not the corpus.
    * Scale shape per round: one edges⋈ranks join + one groupBy —
    * the qPagerank round cost; per-round materialization follows the
    * same spark.graft.pagerank.matMinEdges threshold. */
  def qPprSeeds(spark: SparkSession, dir: String): DataFrame =
    // 4 rounds (r19 trim, r18 VERDICT item 1): walk mass within 2 hops
    // of the seed set is stable by round 4 on the k-NN graph (the
    // top-20 ordering matched the 6-round run when re-based), and each
    // round is 2 sequential stages in the lazy DAG — the oracle unrolls
    // the same 4 iterations, so the gate pins whatever count is chosen
    pprCore(pagerankEdges(spark, dir),
      pagerankNodes(spark, dir).filter(col("src") % 20 === 0),
      iters = 4,
      counts = Some((
        Tables.cachedCount(s"pr-edges:$dir")(pagerankEdges(spark, dir)),
        Tables.cachedCount(s"pr-seeds:$dir")(
          pagerankNodes(spark, dir).filter(col("src") % 20 === 0)))))
      .orderBy(desc("rank"), asc("node")).limit(20)

  /** PPR core over a PREPARED (src, dst, d) contribution table and a
    * one-column seed table — see [[qPprSeeds]]. */
  private[ops] def pprCore(ce: DataFrame, seeds: DataFrame,
      iters: Int, scale: Long = 1000000000L,
      counts: Option[(Long, Long)] = None): DataFrame = {
    val spark = ce.sparkSession
    val minEdges =
      spark.conf.get("spark.graft.pagerank.matMinEdges", "10000000").toLong
    val seedCol = seeds.columns.head
    // bounded driver scalars (the k-means-state pattern): seed count
    // feeds the teleport term, edge count the materialization threshold
    // — passed in from the session scalar cache on the registered path
    val (nE, nS) = counts.getOrElse((ce.count(), seeds.count()))
    require(nS > 0, "pprCore: empty seed set")
    val matRounds = nE >= minEdges
    val tele = (15L * scale) / (100L * nS)
    var r = seeds.select(col(seedCol).as("node"))
      .withColumn("rank", lit(scale / nS))
    for (i <- 1 to iters) {
      // ONE groupBy per round: teleport rows ride the walk aggregate's
      // input as (c=0, tpart=tele) rows, so the damped walk sum and the
      // teleport sum fold in a single shuffle — arithmetic is
      // bit-identical to the two-aggregate form ((85·Σc) div 100 + tele
      // for seed nodes; the div runs AFTER the full edge sum either
      // way), halving the per-round shuffle count (the r17 VERDICT
      // trim: 2 shuffles/round → 1)
      val walkIn = ce.join(r, col("src") === col("node"))
        .select(col("dst").as("node"),
          expr("rank div d").as("c"), lit(0L).as("tpart"))
      val t = seeds.select(col(seedCol).as("node"))
        .withColumn("c", lit(0L)).withColumn("tpart", lit(tele))
      val next = walkIn.unionByName(t)
        .groupBy("node")
        .agg(expr("((85 * sum(c)) div 100) + sum(tpart)").as("rank"))
      r = if (matRounds) Tables.materialize(next, s"ppr-r${i % 2}")
          else next
    }
    r
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * community-detection baseline) over the k-NN similarity graph —
    * communities vs CC's connectivity: LPA splits a connected but
    * loosely-bridged graph into dense regions, the "topic cluster"
    * granularity between whole-component dedup clusters and individual
    * docs. Deterministic by construction: SYNCHRONOUS rounds (every
    * node updates from the previous round's labels) and a total-order
    * argmax (neighbor-label count DESC, label ASC), so the 4-round
    * trajectory is a pure function of the edge set — hash-gatable, and
    * the DuckDB oracle unrolls the same rounds (per-round neighbor
    * label counts + ROW_NUMBER argmax). Output = the community-SIZE
    * histogram with per-bucket label checksum (bounded rows; the full
    * labeling is |V|-sized).
    *
    * Scale shape per round: one join labels⋈edges + one two-key count
    * + one argmax window partitioned by node — key-partitioned
    * shuffles over the edge set, per-round materialization with
    * alternating tags (the PageRank discipline), no driver state. */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame =
    lpaHistogram(lpaLabels(spark, dir))

  /** Session-shared FINAL LPA LABELING of the k-NN graph (4 synchronous
    * rounds) — built once per corpus, reused by q_label_prop and
    * q_modularity (the same share-the-derived-table rule as the CC
    * labelings and PageRank edge tables). The loop's per-round
    * materialize tags are DIR-QUALIFIED because this builder is
    * reachable from a shared holder (the r13 concurrency rule: a
    * shared builder's inner tags must never collide across dirs or
    * with the spec path's plain tags). */
  private[graft] def lpaLabels(spark: SparkSession, dir: String): DataFrame =
    Tables.materializeSharedBy(spark, "lpalabels", dir)(
      lpaLoop(knnCanonEdges(spark, dir), rounds = 4, tagQual = s":$dir"))

  /** Spec path: loop + histogram with plain tags (hand graphs only —
    * registered queries go through [[lpaLabels]]). */
  private[ops] def labelProp(canon: DataFrame, rounds: Int): DataFrame =
    lpaHistogram(lpaLoop(canon, rounds, tagQual = ""))

  private def lpaLoop(canon: DataFrame, rounds: Int,
      tagQual: String): DataFrame = {
    val sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
    val nodes = canon.select(col("a").as("u"))
      .unionByName(canon.select(col("b").as("u"))).distinct()
    var labels = nodes.select(col("u").as("node"), col("u").as("label"))
    for (r <- 1 to rounds) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(desc("cnt"), asc("nlabel"))
      labels = Tables.materialize(
        sym.join(labels, col("u") === col("node"))
          .groupBy(col("v"), col("label").as("nlabel"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("v").as("node"), col("nlabel").as("label")),
        s"lpa$tagQual-r${r % 2}")
    }
    labels
  }

  private def lpaHistogram(labels: DataFrame): DataFrame =
    labels.groupBy("label")
      .agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_communities"),
        sum(col("label")).as("sum_labels"))
      .orderBy("sz")

  /** Newman modularity of the LPA partition — the quality score that
    * says whether the detected communities are denser than a random
    * graph with the same degrees would predict (Newman & Girvan 2004):
    * Q = Σ_c [e_c/m − (d_c/2m)²]. Reported as the EXACT integer
    * fraction mod_num/mod_den with mod_num = Σ_c(4·m·e_c − d_c²),
    * mod_den = 4m² — no float log/div anywhere, so the row is
    * hash-gatable, and the negative-integer-division trap (Spark div
    * truncates, DuckDB // floors) never arises because there is no
    * division. Rides the session-shared [[lpaLabels]] + knnCanonEdges
    * artifacts: incremental cost is two label joins over the edge set
    * + a degree agg + a community-sized rollup; the scalar edge count
    * joins in as a broadcast 1-row aggregate (the lit(1) join key
    * constant-folds away, leaving the allowlisted bounded
    * broadcast-nested-loop shape every global-scalar query uses). */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    val canon = knnCanonEdges(spark, dir)
    val labels = lpaLabels(spark, dir)
    val la = labels.select(col("node").as("a"), col("label").as("la"))
    val lb = labels.select(col("node").as("b"), col("label").as("lb"))
    val ein = canon.join(la, "a").join(lb, "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).cast("bigint").as("e_in"))
    val sym = canon.select(col("a").as("u"))
      .unionByName(canon.select(col("b").as("u")))
    val deg = sym.groupBy("u").agg(count(lit(1)).cast("bigint").as("d"))
    val dcs = deg.join(labels, col("u") === col("node"))
      .groupBy("label").agg(sum(col("d")).cast("bigint").as("d_c"))
    val comm = dcs.join(ein, Seq("label"), "left")
      .select(col("label"), coalesce(col("e_in"), lit(0L)).as("e_in"),
        col("d_c"))
    val stats = comm.agg(
      count(lit(1)).cast("bigint").as("n_communities"),
      sum(col("e_in")).cast("bigint").as("n_internal_edges"),
      sum(col("d_c") * col("d_c")).cast("bigint").as("sum_dc2"))
      .withColumn("k", lit(1))
    val mRow = canon.agg(count(lit(1)).cast("bigint").as("m"))
      .withColumn("k", lit(1))
    stats.join(broadcast(mRow), "k")
      .select(col("m").as("n_edges"), col("n_communities"),
        col("n_internal_edges"),
        (lit(4L) * col("m") * col("n_internal_edges") - col("sum_dc2"))
          .cast("bigint").as("mod_num"),
        (lit(4L) * col("m") * col("m")).cast("bigint").as("mod_den"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_pagerank" -> qPagerank _, "q_triangles" -> qTriangles _,
      "q_kcore" -> qKcore _, "q_ktruss" -> qKtruss _,
      "q_bfs_distance" -> qBfsDistance _,
      "q_label_prop" -> qLabelProp _, "q_ppr_seeds" -> qPprSeeds _,
      "q_modularity" -> qModularity _)

  /** Shared oracle CTE chain: rerank → canonical edges → 4 unrolled
    * synchronous LPA rounds (l4 = the final labeling). MATERIALIZED per
    * round — each round references the previous 3× (the r12
    * CTE-expansion lesson). */
  private val lpaCtes: String =
    """, top3 AS MATERIALIZED (SELECT qid, nid FROM (
      |  SELECT qid, nid,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |  FROM (SELECT qid, nid, sim FROM sims
      |        UNION ALL SELECT nid, qid, sim FROM sims) sym) r
      |  WHERE rank <= 3),
      |ce AS MATERIALIZED (
      |  SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b
      |  FROM top3 WHERE qid <> nid),
      |sym3 AS MATERIALIZED (
      |  SELECT a AS u, b AS v FROM ce UNION ALL SELECT b AS u, a AS v FROM ce),
      |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM
      |  (SELECT a AS u FROM ce UNION ALL SELECT b AS u FROM ce) nn),
      |""".stripMargin +
      (1 to 4).map { r =>
        val prev = s"l${r - 1}"
        s"""l$r AS MATERIALIZED (
           |  SELECT v AS node, nlabel AS label FROM (
           |    SELECT s.v, l.label AS nlabel, COUNT(*) AS cnt,
           |      ROW_NUMBER() OVER (PARTITION BY s.v
           |        ORDER BY COUNT(*) DESC, l.label) AS rk
           |    FROM sym3 s JOIN $prev l ON s.u = l.node
           |    GROUP BY s.v, l.label) z$r
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")

  val oracles: Map[String, String] = {
    val cand = graft.OracleExport.oraclePath("anncand")
    // 15 * 1e9 overflows DuckDB's INT32 literal arithmetic — force BIGINT
    val base = "(CAST(15 AS BIGINT) * 1000000000) // (100 * (SELECT n FROM n))"
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS node,
         |    CAST($base + (85 * SUM($prev.rank // deg.d)) // 100 AS BIGINT) AS rank
         |  FROM e JOIN $prev ON e.src = $prev.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    // personalized variant: teleport mass routed to the SEED rows only,
    // via union — a node appears iff it has walk mass or is a seed
    val pprTele =
      "(CAST(15 AS BIGINT) * 1000000000) // (100 * (SELECT n FROM ns))"
    def pprIter(prev: String, cur: String) =
      s"""$cur AS (SELECT node, CAST(SUM(x) AS BIGINT) AS rank FROM (
         |  SELECT e.dst AS node,
         |    (85 * SUM($prev.rank // deg.d)) // 100 AS x
         |  FROM e JOIN $prev ON e.src = $prev.node
         |  JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst
         |  UNION ALL
         |  SELECT node, $pprTele AS x FROM seeds) z$cur
         |  GROUP BY node)""".stripMargin
    Map("q_triangles" ->
      // same rerank CTE as q_cosine_ann's oracle (float-dot parity is
      // the proven q_cosine_ann gate), then the census over the top-3
      // k-NN edges
      Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        """, top3 AS (SELECT qid, nid FROM (
          |  SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          |  FROM (SELECT qid, nid, sim FROM sims
          |        UNION ALL SELECT nid, qid, sim FROM sims) sym) r
          |  WHERE rank <= 3),
          |ce AS (SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b
          |      FROM top3 WHERE qid <> nid),
          |sym2 AS (SELECT a AS u, b AS v FROM ce UNION ALL SELECT b AS u, a AS v FROM ce),
          |deg AS (SELECT u, COUNT(*) AS d FROM sym2 GROUP BY u),
          |o AS (SELECT s.u, s.v, dv.d AS dv
          |      FROM sym2 s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
          |      WHERE du.d < dv.d OR (du.d = dv.d AND s.u < s.v)),
          |tri AS (SELECT COUNT(*) AS n_triangles
          |        FROM o e1 JOIN o e2 ON e1.u = e2.u
          |          AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
          |        JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
          |w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
          |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
          |  (SELECT COUNT(*) FROM ce) AS n_edges,
          |  (SELECT n_wedges FROM w) AS n_wedges,
          |  (SELECT n_triangles FROM tri) AS n_triangles,
          |  CAST((3 * (SELECT n_triangles FROM tri) * 10000)
          |    // (SELECT n_wedges FROM w) AS BIGINT) AS clustering_bp""".stripMargin),
      // same rerank + canonical edge CTEs as q_triangles, then six
      // unrolled peel rounds (the PageRank unrolling pattern)
      // AS MATERIALIZED throughout: each round references the previous
      // edge set three times — default CTE inlining would expand the
      // whole rerank chain 3^6 times (manifested as "Too many open
      // files" on the embeddings parquet)
      "q_kcore" -> Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        """, top3 AS MATERIALIZED (SELECT qid, nid FROM (
          |  SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          |  FROM (SELECT qid, nid, sim FROM sims
          |        UNION ALL SELECT nid, qid, sim FROM sims) sym) r
          |  WHERE rank <= 3),
          |ce AS MATERIALIZED (
          |  SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b
          |  FROM top3 WHERE qid <> nid),
          |""".stripMargin +
          (1 to 6).map { r =>
            val prev = if (r == 1) "ce" else s"e${r - 1}"
            s"""d$r AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM
               |  (SELECT a AS u FROM $prev UNION ALL SELECT b AS u FROM $prev) s$r
               |  GROUP BY u),
               |keep$r AS MATERIALIZED (SELECT u FROM d$r WHERE d >= 2),
               |e$r AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
               |  JOIN keep$r ka ON ka.u = e.a
               |  JOIN keep$r kb ON kb.u = e.b)""".stripMargin
          }.mkString(",\n") + "\n" +
          "SELECT * FROM (\n" +
          (1 to 6).map { r =>
            s"  SELECT $r AS round, (SELECT COUNT(*) FROM keep$r) AS n_nodes, " +
              s"(SELECT COUNT(*) FROM e$r) AS n_edges"
          }.mkString("\n  UNION ALL\n") +
          "\n) rounds ORDER BY round"),
      // same rerank + canonical edge CTEs as q_kcore, then four unrolled
      // TRUSS rounds: triangle enumeration off the canonical a<b<c
      // ordering, per-edge support, sup >= 2 semi-join; the census is
      // Σ support / 3 (exact). MATERIALIZED per round as usual.
      "q_ktruss" -> Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        """, top3 AS MATERIALIZED (SELECT qid, nid FROM (
          |  SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          |  FROM (SELECT qid, nid, sim FROM sims
          |        UNION ALL SELECT nid, qid, sim FROM sims) sym) r
          |  WHERE rank <= 3),
          |ce AS MATERIALIZED (
          |  SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b
          |  FROM top3 WHERE qid <> nid),
          |""".stripMargin +
          (1 to 3).map { r =>
            val prev = if (r == 1) "ce" else s"te${r - 1}"
            s"""tt$r AS MATERIALIZED (
               |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
               |  FROM $prev e1
               |  JOIN $prev e2 ON e2.a = e1.a AND e1.b < e2.b
               |  JOIN $prev e3 ON e3.a = e1.b AND e3.b = e2.b),
               |ts$r AS MATERIALIZED (
               |  SELECT a, b, COUNT(*) AS sup FROM (
               |    SELECT x AS a, y AS b FROM tt$r
               |    UNION ALL SELECT x AS a, z AS b FROM tt$r
               |    UNION ALL SELECT y AS a, z AS b FROM tt$r) u$r
               |  GROUP BY 1, 2),
               |te$r AS MATERIALIZED (
               |  SELECT e.a, e.b FROM $prev e
               |  JOIN ts$r s ON s.a = e.a AND s.b = e.b AND s.sup >= 1)"""
              .stripMargin
          }.mkString(",\n") + "\n" +
          "SELECT * FROM (\n" +
          (1 to 3).map { r =>
            s"  SELECT $r AS round, (SELECT COALESCE(CAST(SUM(sup) AS " +
              s"BIGINT), 0) // 3 FROM ts$r) AS n_triangles, " +
              s"(SELECT COUNT(*) FROM te$r) AS n_edges"
          }.mkString("\n  UNION ALL\n") +
          "\n) rounds ORDER BY round"),
      // same rerank + canonical edge CTEs as q_kcore, then four unrolled
      // BFS relaxation rounds (join frontier to the symmetric edges,
      // groupBy-min) — AS MATERIALIZED for the same 3^k-expansion reason
      "q_bfs_distance" -> Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        """, top3 AS MATERIALIZED (SELECT qid, nid FROM (
          |  SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
          |  FROM (SELECT qid, nid, sim FROM sims
          |        UNION ALL SELECT nid, qid, sim FROM sims) sym) r
          |  WHERE rank <= 3),
          |ce AS MATERIALIZED (
          |  SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b
          |  FROM top3 WHERE qid <> nid),
          |nodes AS MATERIALIZED (SELECT DISTINCT u FROM
          |  (SELECT a AS u FROM ce UNION ALL SELECT b AS u FROM ce) nn),
          |sym3 AS MATERIALIZED (
          |  SELECT a AS u, b AS v FROM ce UNION ALL SELECT b AS u, a AS v FROM ce),
          |b0 AS MATERIALIZED (
          |  SELECT u AS node, 0 AS dist FROM nodes WHERE u % 20 = 0),
          |""".stripMargin +
          (1 to 4).map { r =>
            val prev = s"b${r - 1}"
            s"""b$r AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
               |  SELECT node, dist FROM $prev
               |  UNION ALL
               |  SELECT s.v AS node, $prev.dist + 1 AS dist
               |  FROM sym3 s JOIN $prev ON s.u = $prev.node) x$r
               |  GROUP BY node)""".stripMargin
          }.mkString(",\n") + "\n" +
          """SELECT CAST(COALESCE(b.dist, -1) AS INT) AS dist,
            |  COUNT(*) AS n_nodes, CAST(SUM(n.u) AS BIGINT) AS sum_nodes
            |FROM nodes n LEFT JOIN b4 b ON b.node = n.u
            |GROUP BY 1 ORDER BY dist""".stripMargin),
      // same preamble as q_bfs_distance, then four unrolled synchronous
      // LPA rounds: per-round neighbor-label counts + ROW_NUMBER argmax
      // with the engine's exact tie order (cnt DESC, label ASC)
      "q_label_prop" -> Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        lpaCtes + "\n" +
          """SELECT sz, COUNT(*) AS n_communities,
            |  CAST(SUM(label) AS BIGINT) AS sum_labels
            |FROM (SELECT label, COUNT(*) AS sz FROM l4 GROUP BY label) c
            |GROUP BY sz ORDER BY sz""".stripMargin),
      // Newman modularity of the same l4 labeling as an exact integer
      // fraction — see qModularity (no division anywhere, so the
      // Spark-truncate/DuckDB-floor negative-division trap can't bite)
      "q_modularity" -> Vectors.simOracle(
        s"SELECT qid, nid FROM '$cand'", "qid", "nid",
        lpaCtes + ",\n" +
          """mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ce),
            |deg2 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
            |         FROM sym3 GROUP BY u),
            |ein AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
            |        FROM ce JOIN l4 la ON la.node = ce.a
            |          JOIN l4 lb ON lb.node = ce.b
            |        WHERE la.label = lb.label GROUP BY la.label),
            |dcs AS (SELECT l.label, CAST(SUM(d2.d) AS BIGINT) AS d_c
            |        FROM l4 l JOIN deg2 d2 ON d2.u = l.node
            |        GROUP BY l.label),
            |jm AS (SELECT dcs.label, COALESCE(ein.e_in, 0) AS e_in,
            |         dcs.d_c
            |       FROM dcs LEFT JOIN ein ON ein.label = dcs.label)
            |SELECT (SELECT m FROM mm) AS n_edges,
            |  CAST(COUNT(*) AS BIGINT) AS n_communities,
            |  CAST(SUM(e_in) AS BIGINT) AS n_internal_edges,
            |  CAST(4 * (SELECT m FROM mm) * SUM(e_in) - SUM(d_c * d_c)
            |    AS BIGINT) AS mod_num,
            |  CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm)
            |    AS BIGINT) AS mod_den
            |FROM jm""".stripMargin),
      "q_pagerank" ->
      (s"""WITH pairs AS (SELECT qid, nid FROM '$cand'),
          |e AS (SELECT qid AS src, nid AS dst FROM pairs
          |      UNION ALL SELECT nid AS src, qid AS dst FROM pairs),
          |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
          |n AS (SELECT COUNT(*) AS n FROM deg),
          |r0 AS (SELECT src AS node,
          |       CAST(1000000000 // (SELECT n FROM n) AS BIGINT) AS rank
          |       FROM deg),
          |""".stripMargin +
        (1 to 4).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n") + "\n" +
        """SELECT node, rank FROM r4
          |ORDER BY rank DESC, node LIMIT 20""".stripMargin),
      "q_ppr_seeds" ->
      (s"""WITH pairs AS (SELECT qid, nid FROM '$cand'),
          |e AS (SELECT qid AS src, nid AS dst FROM pairs
          |      UNION ALL SELECT nid AS src, qid AS dst FROM pairs),
          |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
          |seeds AS (SELECT src AS node FROM deg WHERE src % 20 = 0),
          |ns AS (SELECT COUNT(*) AS n FROM seeds),
          |r0 AS (SELECT node,
          |       CAST(1000000000 // (SELECT n FROM ns) AS BIGINT) AS rank
          |       FROM seeds),
          |""".stripMargin +
        (1 to 4).map(i => pprIter(s"r${i - 1}", s"r$i")).mkString(",\n") + "\n" +
        """SELECT node, rank FROM r4
          |ORDER BY rank DESC, node LIMIT 20""".stripMargin))
  }
}
