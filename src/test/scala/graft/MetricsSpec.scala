package graft

/** [[Metrics]] windows: job counts, the union of job intervals against the
  * wall, the driver gap, and the planning and execution time of a write.
  */
class MetricsSpec extends SparkSpec {

  private def slowCount(ms: Int): Long =
    spark.sparkContext.parallelize(1 to 2, 2).map { x => Thread.sleep(ms); x }.count()

  private def window(body: => Any): (Map[String, Double], Seq[Metrics.Job]) = {
    val m = Metrics.attach(spark)
    try {
      val a = m.mark()
      body
      (m.between(a, m.mark()), m.jobs)
    } finally m.detach()
  }

  test("overlapping jobs count once each and their busy time stays within the wall") {
    val (w, jobs) = window(Par.run2(() => slowCount(400), () => slowCount(400)))
    assert(w("jobs") === 2.0)
    assert(w("tasks") === 4.0)
    assert(jobs.map(_.tasks) === Seq(2, 2))
    assert(w("job_busy_s") > 0.3 && w("job_busy_s") <= w("wall_s"), w)
    // the busy time is the union of the two intervals, not their sum
    assert(w("job_busy_s") < jobs.map(_.seconds).sum, (w, jobs))
  }

  test("a sleep between two jobs is driver gap, not job-busy time") {
    val (w, jobs) = window { slowCount(100); Thread.sleep(600); slowCount(100) }
    assert(w("jobs") === 2.0)
    assert(w("driver_gap_s") >= 0.55, w)
    assert(w("job_busy_s") < w("wall_s") - 0.55, w)
    assert(jobs.forall(_.site.contains("MetricsSpec")), jobs)
  }

  test("a write's planning and SQL execution time fall within its wall") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
    val t0 = System.nanoTime()
    val (w, jobs) = window(df.write.mode("overwrite").format("noop").save())
    val wall = (System.nanoTime() - t0) / 1e9
    assert(jobs.nonEmpty && jobs.forall(_.rootExecution >= 0), jobs)
    assert(w("plan_s") > 0 && w("plan_s") < w("query_s"), w)
    assert(w("query_s") <= wall, (w, wall))
  }
}
