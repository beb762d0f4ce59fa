package graft

/** The per-stage progress line of [[Metrics]] must fire for real jobs and
  * report non-trivial metrics (Progress.java analog — silent runs read as hung).
  */
class ProgressSpec extends SparkSpec {

  test("listener reports completed stages with task and record counts") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val metrics = Metrics.attach(spark, Some(lines.add(_)))
    try {
      // a read + aggregate: at least one stage with input records
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.mode("overwrite").format("noop").save()
      // the listener bus is async — poll briefly for delivery
      val deadline = System.nanoTime() + 10e9.toLong
      while (lines.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally metrics.detach()
    val got = lines.toArray(Array.empty[String])
    assert(got.nonEmpty, "at least one stage line must be reported")
    assert(got.forall(_.startsWith("[progress] stage ")))
    assert(got.exists(_.contains("tasks=")), got.mkString("\n"))
    // the scan stage read real records
    assert(got.exists(l => "in=([0-9]+)".r.findFirstMatchIn(l)
      .exists(_.group(1).toLong > 0)), got.mkString("\n"))
  }
}
