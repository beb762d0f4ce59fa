package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The r14 emb_mmr rewrite moved the greedy MMR recurrence from four
  * unrolled DataFrame rounds (anti-join + semi-join + window per round)
  * into ONE per-query flatMapGroups task. This spec keeps the OLD
  * unrolled formulation alive as an independent reference and asserts
  * bit-identical output (the DuckDB oracle is the second independent
  * replay, checked by the driver).
  */
class MmrParitySpec extends SparkSpec {

  test("emb_mmr mapGroups selection matches the unrolled DataFrame recurrence") {
    val e = Ann.withNorm(spark, sfDir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("n2").as("nn2"))
    val cands = base.crossJoin(broadcast(probes))
      .withColumn("rel", Ann.cosine(Ann.dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rel"), col("n_id"))))
      .filter(col("rnk") <= 10)
      .select("q_id", "n_id", "ne", "nn2", "rel")
      .cache()
    val pairs = cands.select(col("q_id").as("pq"), col("n_id").as("a"),
        col("ne").as("ae"), col("nn2").as("an2"))
      .join(cands.select(col("q_id").as("pq"), col("n_id").as("b"),
        col("ne").as("be"), col("nn2").as("bn2")), Seq("pq"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim", Ann.cosine(Ann.dotDec(col("ae"), col("be")), col("an2"), col("bn2")))
      .select("pq", "a", "b", "sim")
      .cache()
    // the pre-r14 unrolled recurrence, verbatim
    var sel = cands
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rel"), col("n_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), lit(1).as("mmr_rank"),
        expr("0.7 * rel").as("score"))
    for (r <- 2 to 5) {
      val remaining = cands.join(broadcast(sel.select("q_id", "n_id")),
        Seq("q_id", "n_id"), "left_anti")
      val simsToSel = pairs.join(
        broadcast(sel.select(col("q_id").as("sq"), col("n_id").as("sb"))),
        col("sq") === col("pq") && col("sb") === col("b"), "left_semi")
      val pick = remaining
        .join(broadcast(simsToSel),
          col("pq") === col("q_id") && col("a") === col("n_id"))
        .groupBy("q_id", "n_id", "rel").agg(max("sim").as("msim"))
        .withColumn("score", expr("0.7 * rel - 0.3 * msim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("score"), col("n_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id"), lit(r).as("mmr_rank"), col("score"))
      sel = sel.unionByName(pick).localCheckpoint(eager = true)
    }
    val expected = sel.orderBy("q_id", "mmr_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val got = Ann.embMmr(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty)
    assert(got == expected)
    cands.unpersist(); pairs.unpersist()
  }

  test("mmrSelect orders NaN relevance and NaN sims the same for every candidate order") {
    // NaN ranks above every number, as in Spark's ORDER BY … DESC and max
    def sims(ids: Seq[Long], nan: Set[Long]): Map[(Long, Long), Double] =
      (for (a <- ids; b <- ids if a != b)
        yield (a, b) -> (if (Set(a, b) == nan) Double.NaN else 0.5)).toMap
    def picks(rel: Map[Long, Double], sim: Map[(Long, Long), Double]): Seq[Long] = {
      val ids = rel.keys.toSeq.sorted
      val orders = Seq(ids, ids.reverse, ids.drop(2) ++ ids.take(2), ids.take(2).reverse ++ ids.drop(2))
      val all = orders.map(o => Ann.mmrSelect(o.map(n => n -> rel(n)), sim))
      all.foreach(p => assert(p.map(x => (x._1, x._2)) === all.head.map(x => (x._1, x._2))))
      assert(all.head.map(_._2) === (1 to all.head.size))
      all.head.map(_._1)
    }
    // a NaN relevance wins round 1
    val relNan = Map(11L -> 0.9, 12L -> Double.NaN, 13L -> 0.8, 14L -> 0.5,
      15L -> 0.2, 16L -> 0.1)
    assert(picks(relNan, sims(relNan.keys.toSeq, Set.empty)) === Seq(12L, 11L, 13L, 14L, 15L))
    // a NaN sim to the selected 11 makes 14's max-sim, and so its score,
    // NaN: it wins round 2 over every finite score
    val rel = Map(11L -> 0.9, 13L -> 0.8, 14L -> 0.5, 16L -> 0.3)
    assert(picks(rel, sims(rel.keys.toSeq, Set(11L, 14L))) === Seq(11L, 14L, 13L, 16L))
    // -0.0 and 0.0 tie, so n_id asc picks 15 first
    assert(picks(Map(15L -> -0.0, 16L -> 0.0), sims(Seq(15L, 16L), Set.empty)) === Seq(15L, 16L))
  }
}
