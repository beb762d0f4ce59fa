package graft
import java.nio.file.{Files, Paths}
/** The 240-key bench: median-of-reps wall per `SparkEntry.queries` key.
  * stdout gets the full JSON line and then a compact total line; the full
  * line also goes to `SPARK_GRAFT_BENCH_OUT`, and `<its stem>.keys.jsonl`
  * gets one [[Metrics]] record per key: the cold (rep 1) and warm (median
  * rep) layers and the last rep's jobs. `Bench explain` instead writes every
  * key's formatted plan to `<stem>.plans.txt`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val stem = out.replaceFirst("\\.[^./]*$", "")
    // key subset for development runs, as in Verify
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val bench = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // campaign mode: a whole-surface run must never evict a shared graph artifact
    GraftSession.enableReliableArtifacts(spark)
    if (args.headOption.contains("explain")) {
      Files.writeString(Paths.get(s"$stem.plans.txt"), bench.toSeq.sortBy(_._1).map { case (k, fn) =>
        s"\n================ $k ================\n" + (try fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"ERROR: ${e.getMessage}\n" }) }.mkString)
      println(s"wrote $stem.plans.txt")
      spark.stop()
      return
    }
    // warmup (JIT, parquet footers, page cache), so the first key doesn't absorb JVM
    // startup; a warmup failure degrades to a cold first key, never a lost JSON line
    try {
      SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
      Seq("lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet")
          .write.mode("overwrite").format("noop").save())
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // median-of-5 per key: the median stays stable even when TWO reps hit a
    // GC/page-cache stall or contention, and five reps stay cheap at sf0.1
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // loadavg before/after: a noisy run records its own cause
    def loadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(",")
      catch { case _: Exception => "" }
    def load1(): Double = loadavg().split(",").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    // LOADAVG GATE — the registered number must not be weather: wait (bounded, so
    // the gate never eats the bench budget) for a quiet box before the first key
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "2.5").toDouble
    val loadWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT", "300").toInt
    val gateT0 = System.nanoTime()
    while (load1() > loadGate && (System.nanoTime() - gateT0) / 1e9 < loadWaitS) {
      System.err.println(s"[bench] loadavg ${load1()} > $loadGate — waiting for quiet")
      Thread.sleep(15000)
    }
    val loadBefore = loadavg()
    val metrics = Metrics.attach(spark)
    // max 1-min loadavg across a key's reps: a cross-run delta is self-attributing
    // (a plan regression reproduces at equal load; weather doesn't)
    val keyLoad = scala.collection.mutable.LinkedHashMap[String, Double]()
    // One timed pass over a key: the median of reps (negative = failure marker,
    // never mistaken for a fast key), the min (the re-measure pass's contention
    // detector), and the cold and median reps' layers. The bus drain between
    // construction and write stays outside the timed wall.
    case class Pass(median: Double, min: Double, cold: Map[String, Double],
        warm: Map[String, Double], jobs: Seq[Metrics.Job])
    def attempt(f: => Unit): Option[Throwable] = try { f; None } catch { case e: Throwable => Some(e) }
    def measure(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Pass = {
      val runs = (1 to reps).map { _ =>
        metrics.reset()
        val m0 = metrics.mark()
        var df: org.apache.spark.sql.DataFrame = null
        val t0 = System.nanoTime()
        val failed0 = attempt { df = fn(spark, sfDir) }
        val construct = (System.nanoTime() - t0) / 1e9
        val m1 = metrics.mark()
        val t1 = System.nanoTime()
        // noop sink: evaluates every column (count() lets Catalyst prune them)
        val failed = failed0.orElse(attempt(df.write.mode("overwrite").format("noop").save()))
        val write = (System.nanoTime() - t1) / 1e9
        val dt = construct + write
        failed.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
        val m2 = metrics.mark()
        val (all, w) = (metrics.between(m0, m2), metrics.between(m1, m2))
        // exec_s: the write's SQL execution less its optimization and physical
        // planning; plan_s: the rest of the write (those phases, the write
        // command's analysis and the sink lookup)
        val exec = math.max(0.0, math.min(w("query_s"), write) - w("plan_s"))
        val layers = all - "query_s" ++ Map("wall_s" -> dt, "construct_s" -> construct,
          "plan_s" -> (write - exec), "exec_s" -> exec,
          "driver_gap_s" -> math.max(0.0, dt - all("job_busy_s")))
        // sweep checkpoint/cache blocks outside the timed region
        GraftSession.releaseStorage(spark)
        keyLoad(name) = math.max(keyLoad.getOrElse(name, 0.0), load1())
        (if (failed.isEmpty) dt else -dt, layers)
      }
      val times = runs.map(_._1)
      val mid = times.indices.sortBy(i => math.abs(times(i))).apply(times.length / 2)
      Pass(if (times.exists(_ < 0)) -math.abs(times(mid)) else times(mid),
        times.map(math.abs).min, runs.head._2, runs(mid)._2, metrics.jobs)
    }
    val firstPass = bench.map { case (name, fn) => name -> measure(name, fn) }
    // RE-MEASURE PASS — a median far above its own min means contention hit most
    // reps: measure once more and keep the better median; "remeasured" records
    // both, so a cross-round comparison can rebuild the single-pass number
    val remeasured = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val passes = firstPass.map { case (name, p) =>
      val noisy = p.median > 0 && p.median > p.min * 1.25 + 0.1
      val p2 = if (noisy) Some(measure(name, bench(name))) else None
      name -> p2.filter(q => q.median > 0 && q.median < p.median).fold(p) { q =>
        System.err.println(f"[bench] $name re-measured: ${p.median}%.3f -> ${q.median}%.3f s")
        remeasured(name) = (p.median, q.median)
        q.copy(cold = p.cold)
      }
    }
    val results = passes.map { case (k, p) => k -> p.median }
    // values rounded to ms (far below noise) so more keys fit a ~2 KB stdout
    // tail; failure markers stay strictly negative
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    def ms(v: Double): Double = { val m = math.max(r3(math.abs(v)), 0.001); if (v < 0) -m else m }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def layers(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${r3(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$stem.keys.jsonl"), passes.map { case (k, p) =>
      val jobs = p.jobs.map(j => s"""{"job":${j.id},"s":${j.seconds},"tasks":${j.tasks},""" +
        s""""execution":${j.rootExecution},"site":${str(j.site)}}""").mkString("[", ",", "]")
      s"""{"key":${str(k)},"cold":${layers(p.cold)},"warm":${layers(p.warm)},"jobs":$jobs}"""
    }.mkString("", "\n", "\n"))
    metrics.detach()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val rq = remeasured.map { case (k, (m1, m2)) =>
      s"\"" + k + s"\":[${ms(m1)},${ms(m2)}]" }.mkString("{", ",", "}")
    val kl = keyLoad.map { case (k, l) =>
      s"\"" + k + "\":" + (math.round(l * 100.0) / 100.0) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(math.abs).sum else 0.0
    val nFailed = results.values.count(_ < 0)
    // FIELD ORDER MATTERS: per-query times are parsed from a ~2 KB stdout tail,
    // so "queries" must be the LAST big map on the line
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"sf":"$sfDir","reps":$reps,"remeasured":$rq,"key_load":$kl,"queries":$qs,"loadavg_before":"$loadBefore","loadavg_after":"${loadavg()}"}"""
    // the full line (KBs at 240 keys) goes to the file and stdout; the line a
    // tail reader must parse is the COMPACT one below
    Files.writeString(Paths.get(out), json + "\n")
    println(json)
    // compact summary LAST (≤ ~250 chars whatever the key count)
    val totalMs = math.round(total * 1000.0) / 1000.0
    println(
      s"""{"metric":"total","value":$totalMs,"unit":"sec","queries_n":${results.size},"failed":$nFailed,"sf":"$sfDir","reps":$reps,"loadavg_before":"$loadBefore","loadavg_after":"${loadavg()}"}""")
    spark.stop()
  }
}
