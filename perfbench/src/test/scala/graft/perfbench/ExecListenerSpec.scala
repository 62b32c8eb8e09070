package graft.perfbench

import java.util.Properties

import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

class ExecListenerSpec extends AnyFunSuite {

  private def stage(id: Int, name: String) =
    new StageInfo(id, 0, name, 1, Seq.empty, Seq.empty, "", null, Seq.empty,
      None, 0, false, 0)

  private def jobStart(id: Int, stageName: String, span: Long) = {
    val p = new Properties()
    p.setProperty(Props.Op, "q1_pricing")
    p.setProperty(Props.Span, span.toString)
    SparkListenerJobStart(id, 1000L, Seq(stage(id, stageName)), p)
  }

  test("a schema-inference job launched from graft.Tables is classified as one") {
    val l = new ExecListener
    l.onJobStart(jobStart(0, "parquet at Tables.scala:35", 7))
    l.onJobEnd(SparkListenerJobEnd(0, 1086L, org.apache.spark.scheduler.JobSucceeded))
    val j = l.jobs(0)
    assert(j.schema)
    assert(j.op == "q1_pricing" && j.parent == 7)
    assert(j.start == 1000.0 && j.end.contains(1086.0))
  }

  test("other jobs, and parquet reads from elsewhere, are not") {
    val l = new ExecListener
    l.onJobStart(jobStart(1, "save at QueryWorkload.scala:12", 3))
    l.onJobStart(jobStart(2, "parquet at Harness.scala:40", 3))
    assert(!l.jobs(1).schema && !l.jobs(2).schema)
  }
}
