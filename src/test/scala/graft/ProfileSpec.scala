package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a probed query reports every job the status tracker lists for its group") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft_profile_spec", "ProfileSpec")
    val p = try Profile.probe(spark, TestSpark.sf, "q_trimmed_mean")
      finally sc.clearJobGroup()
    val tracked = sc.statusTracker.getJobIdsForGroup("graft_profile_spec").toSet
    val reported = p.jobs.map(_._1).toSet
    assert(tracked.nonEmpty)
    assert(tracked.subsetOf(reported), s"listener missed jobs ${tracked -- reported}")
    assert(p.stages.nonEmpty && p.stages.forall(s => reported(s.jobId)))
  }
}
