package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  // the sf0.001 testdata tree the other specs read
  private val sf = Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  private def recorded[A](body: Profile.Recorder => A): A = {
    assume(Files.isDirectory(Paths.get(sf)), s"no testdata at $sf")
    val rec = new Profile.Recorder(spark)
    try body(rec) finally rec.close()
  }

  private def noop(rec: Profile.Recorder, name: String): Profile.Run =
    rec.record(graft.SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save())._2

  test("a batch query records its jobs and an AQE-final plan") {
    val run = recorded(noop(_, "q13_ffill_candles"))
    assert(run.jobs.nonEmpty)
    assert(run.jobs.forall(j => j.wallMs >= 0 && j.tasks > 0))
    assert(run.plans.exists(_.plan.contains("isFinalPlan=true")),
      run.plans.map(_.plan).mkString("\n"))
    assert(!run.plans.exists(_.plan.contains("isFinalPlan=false")))
  }

  test("a streaming query records its micro-batches, and identical batch plans collapse") {
    val run = recorded(noop(_, "q188_stream_line_dedup"))
    val batches = run.streams.flatMap(_.batches)
    assert(run.streams.nonEmpty && run.streams.forall(_.lifetimeMs >= 0))
    assert(batches.nonEmpty && batches.forall(_.durationMs.contains("triggerExecution")))
    val inBatch = run.executions.filter(_.description.contains("batch = "))
    assert(inBatch.map(_.description).distinct.size >= 2, run.executions)
    val same = inBatch.groupBy(e => Profile.planKey(e.plan)).filter(_._2.size >= 2)
    assert(same.nonEmpty, "no two micro-batches ran the same plan")
    same.keys.foreach(k => assert(run.plans.count(p => Profile.planKey(p.plan) == k) == 1))
    assert(run.plans.size < run.executions.size)
  }

  test("an in-place refresh replaces only the plan blocks") {
    val doc = Files.createTempFile("graft_plans_", ".md")
    Files.writeString(doc,
      """# PLANS
        |
        |> A note in the preamble.
        |
        |## q01_pruned_scan — pruned scan
        |
        |```
        |stale plan one
        |```
        |
        |## q13_ffill_candles — forward fill
        |
        |A note under a heading.
        |
        |```
        |stale plan two
        |```
        |""".stripMargin)
    def prose(): Seq[String] = {
      var inFence = false
      Files.readAllLines(doc).asScala.toSeq.filter { l =>
        if (l.startsWith("```")) { inFence = !inFence; false } else !inFence
      }
    }
    val before = prose()
    recorded(Profile.refreshPlans(_, spark, sf, doc, reps = 0))
    val text = Files.readString(doc)
    assert(prose() == before, text)
    assert(!text.contains("stale plan"))
    assert(text.split("== Physical Plan ==").length - 1 >= 2, text)
    assert(!text.contains("isFinalPlan=false"), text)
  }
}
