package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark keeps the classes it generates in one JVM-wide cache, sized by
  * the static conf `spark.sql.codegen.cache.maxEntries` when the first
  * query compiles. A workload whose passes cycle through more classes
  * than that evicts each class before its next use and recompiles all of
  * them on every pass. build.sbt's `javaOptions` size the cache for every
  * JVM the build launches; the suite's session sets no codegen conf, like
  * any session the repo does not build itself (perfbench's harness), so a
  * warm pass that compiles nothing shows the launch option reached it. */
class CodegenCacheSpec extends SparkSpec {
  private val compiles = CodegenMetrics.METRIC_COMPILATION_TIME

  /** Queries whose generated code differs on every call, so no cache
    * size serves them. q_table_profile: its four countDistinct columns
    * become one Expand whose projections Catalyst orders by a hash of
    * expression ids, which are new on every call. */
  private val uncacheable = Set("q_table_profile")

  /** The JVM-wide cache, reached by reflection: Spark keeps it private. */
  private lazy val codegenCache: AnyRef = {
    val field = CodeGenerator.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    field.get(CodeGenerator)
  }
  private def cacheCall(method: String): AnyRef =
    codegenCache.getClass.getMethod(method).invoke(codegenCache)

  test("a warm pass over the Tpch and Relational queries compiles nothing") {
    val dir = sf("sf0.001")
    val queries =
      (ops.Tpch.queries ++ ops.Relational.queries).toSeq.sortBy(_._1)
    def pass(): Map[String, Long] = queries.map { case (name, fn) =>
      val before = compiles.getCount
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      name -> (compiles.getCount - before)
    }.toMap
    // the first pass builds the shared tables and schema caches, so the
    // passes below plan the same queries the same way; emptying the cache
    // then makes the next pass compile its whole working set, whatever
    // the suites before this one left there
    pass()
    cacheCall("invalidateAll")
    val cold = pass().values.sum
    assert(cold > 150, "the working set must exceed Spark's default 100 entries")
    assert(cacheCall("size") === Long.box(cold),
      s"the cache evicted classes of a $cold-class working set")
    // AQE replans a query as its stages finish, so a warm pass can meet a
    // plan variant (a join's build side) that the cold pass did not; a
    // variant is cached from then on, so only a query that compiles on
    // both warm passes recompiles what it already compiled
    val warm = Seq(pass(), pass())
    info(s"cold pass: $cold classes; warm passes: " +
      warm.map(_.filter(_._2 > 0)).mkString("; "))
    val churn = queries.map(_._1).filterNot(uncacheable.contains)
      .filter(n => warm.forall(_(n) > 0))
    assert(churn.isEmpty,
      s"recompiled on every warm pass: ${churn.map(n => n -> warm.map(_(n)))}")
  }
}
