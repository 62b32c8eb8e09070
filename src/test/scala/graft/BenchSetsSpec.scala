package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's NAME-BASED sets rot silently when a query is renamed:
  * warmup lookups are get-based (a missing name just drops its warmup
  * and the cold-pass overrun returns), a stale streamGates entry would
  * quietly run a gate in the wrong phase, and a canary rename would
  * leave canary_factor computed over fewer anchors. Pin every name to
  * the live registry; no Spark session needed. */
class BenchSetsSpec extends AnyFunSuite {

  private lazy val registry = SparkEntry.queries.keySet

  test("every warmup target is a registered query") {
    val missing = Bench.warmupQueries.filterNot(registry)
    assert(missing.isEmpty, s"warmup targets not in registry: $missing")
  }

  test("every stream gate is a registered query, and every real stream gate is listed") {
    val missing = Bench.streamGates.filterNot(registry)
    assert(missing.isEmpty, s"stream gates not in registry: $missing")
    // the real gates are exactly the q_stream_* queries minus the batch
    // twin q_stream_join — a NEW stream gate must join the latency group
    val realGates = registry.filter(_.startsWith("q_stream_"))
      .filterNot(_ == "q_stream_join")
    assert(Bench.streamGates === realGates,
      s"streamGates drifted: missing ${realGates -- Bench.streamGates}, " +
        s"stale ${Bench.streamGates -- realGates}")
  }

  test("every canary is a registered query") {
    val missingCanary = Bench.canaryWarm.keySet.filterNot(registry)
    assert(missingCanary.isEmpty, s"canaries not in registry: $missingCanary")
  }

  test("every chain-dep prefix matches at least one registered query") {
    val dead = Bench.chainDepPrefixes
      .filterNot(p => registry.exists(_.startsWith(p)))
    assert(dead.isEmpty, s"dead chain-dep prefixes: $dead")
  }

  test("canaries are chain-independent (they must run in the pure prefix)") {
    val dep = Bench.canaryWarm.keySet
      .filter(n => Bench.chainDepPrefixes.exists(n.startsWith))
    assert(dep.isEmpty,
      s"canaries behind the chain barrier would measure prewarm, not weather: $dep")
  }
}
