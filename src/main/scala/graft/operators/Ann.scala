package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity: cosine near-dup pairs, brute-force top-k ANN
  * baseline, and a hyperplane-LSH bucketed scale path.
  *
  * Determinism: dot products accumulate per-element float products in
  * fixed-point 1e-9 longs (graft.functions.Dot9) — exact and
  * order-independent, so the DuckDB oracle reproduces the cosine
  * bit-for-bit (double division and sqrt are IEEE-deterministic; only the
  * SUM order ever differs between engines, and integer accumulation
  * removes that) while staying in primitive-long codegen.
  *
  * Scale: near-dup pairs join within blocking keys only (label here;
  * LSH buckets in `ann_lsh`) — never all-pairs. Top-k broadcasts the small
  * query set over the big base side, which is a map-only crossJoin: the
  * 100 TB side never shuffles; per-partition top-k partials then combine.
  */
object Ann {

  /** Exact, order-independent dot product (fixed-point 1e-9 longs) via the
    * custom codegen expression `dot9` (graft.functions.Dot9).
    */
  private[operators] def dotDec(a: Column, b: Column): Column =
    call_function("dot9", a, b)

  private[operators] def cosine(dot: Column, na2: Column, nb2: Column): Column =
    (dot / 1e9) / (sqrt(na2 / 1e9) * sqrt(nb2 / 1e9))

  private[operators] def withNorm(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GeoFunctions.register(s)
    Tables.embeddings(s, dir)
      .withColumn("n2", dotDec(col("embedding"), col("embedding")))
  }

  /** Per-label block cap for the brute-force near-dup baseline. Pairs are
    * quadratic IN THE BLOCK SIZE, and the label domain is fixed — so
    * without a bound, 10× rows means 100× pairs (measured ×53 at sf1,
    * SCALE_sf1.md) and an accidental run at corpus scale melts a cluster.
    * Oversized blocks keep their MaxBlock lowest vec_ids (deterministic,
    * so the oracle replays it): every emitted pair is still a true
    * near-dup pair, and exhaustive coverage inside huge blocks is what
    * the LSH path (`ann_lsh` / `dedup_lsh_pairs`) is for. 256 is above
    * every organic block at sf0.1 (max 218), so results are unchanged
    * there.
    */
  val MaxBlock = 256

  /** Embedding-cosine near-dup pairs, blocked by label, for any
    * (vec_id, label, embedding) frame — blocks capped at [[MaxBlock]].
    * The cap's rank window partitions by label, the same key the pair
    * join shuffles on, so the guard rides the exchange the join needs
    * anyway.
    */
  private[graft] def dedupEmbeddingOf(emb: DataFrame): DataFrame = {
    graft.functions.GeoFunctions.register(emb.sparkSession)
    val e = emb
      .withColumn("n2", dotDec(col("embedding"), col("embedding")))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("_rk") <= MaxBlock)
      .drop("_rk")
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("label"), col("n2").as("na2"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("label"), col("n2").as("nb2"))
    a.join(b, Seq("label")).filter(col("va") < col("vb"))
      .withColumn("cos", cosine(dotDec(col("ea"), col("eb")), col("na2"), col("nb2")))
      .filter(col("cos") >= 0.3)
      .select("va", "vb", "label", "cos")
  }

  /** The declared brute-force baseline over the embeddings table; the
    * scale path is LSH bucketing.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingOf(Tables.embeddings(s, dir))

  /** Brute-force cosine top-5 per query (queries = vec_id < 8), with a
    * deterministic (cos DESC, vec_id ASC) tiebreak.
    */
  def annTopk(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("n2").as("nn2"))
    base.crossJoin(broadcast(queries))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "cos")
  }

  /** RANGE (radius) search — the other face of the similarity scan: ALL
    * corpus vectors within cosine ≥ 0.25 of any probe (queries =
    * vec_id < 8), not a fixed top-k. This is the query shape of dedup
    * radius sweeps and contamination checks ("everything similar
    * enough", unknown result cardinality). Brute force is the declared
    * baseline (probes broadcast once, corpus scanned once, no
    * per-probe exchange); the scale path is the IVF route — probe the
    * nearest cells only — exactly as for top-k. The cosine is computed
    * from the same fixed-point dot9 integers as everywhere, so the
    * float compare is bit-identical cross-engine (the dedup_embedding
    * precedent).
    */
  def annRange(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("n2").as("nn2"))
    base.crossJoin(broadcast(queries))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .filter(col("cos") >= 0.25)
      .select("q_id", "n_id", "cos")
  }

  /** MIPS — maximum-INNER-PRODUCT top-5 per query (queries = vec_id <
    * 8), the recommendation-scoring face of the similarity scan:
    * score = ⟨q, x⟩ UN-normalized, so a longer vector legitimately
    * outranks a better-aligned shorter one — a different ranking than
    * cosine top-k (`ann_topk`), which is why engines treat MIPS as its
    * own query type (norm-augmentation reductions à la Shrivastava &
    * Li 2014 exist precisely because LSH needs the reduction; the
    * brute-force scan does not). Brute force = probes broadcast once,
    * corpus scanned once, zero per-probe exchanges; the ranking key is
    * the RAW dot9 fixed-point int64 — no sqrt, no division, no float
    * anywhere, so rank ties are impossible to flip cross-engine.
    */
  def annMips(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GeoFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"))
    base.crossJoin(broadcast(queries))
      .withColumn("dot_fix", dotDec(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("dot_fix"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "dot_fix")
  }

  /** MMR diversified top-5 (Carbonell & Goldstein, SIGIR 1998 — the
    * re-rank a retrieval/RAG stack runs so five results aren't five
    * near-duplicates): from each probe's cosine top-10 candidates,
    * greedily select argmax λ·rel − (1−λ)·max-sim-to-selected, λ = 0.7.
    * Relevance and pairwise sims are the exact fixed-point cosines; the
    * λ-combination is two IEEE multiplies and a subtract on identical
    * doubles — identical cross-engine; ties break by n_id.
    *
    * Scale shape: the candidate harvest is the ann_topk broadcast scan
    * (top-10 WindowGroupLimit-pruned); after it EVERYTHING — pairwise
    * sims (≤ 10² per probe) and the four greedy rounds — runs on
    * query-scale frames, hint-broadcast because derived intermediates
    * carry no stats for the planner. The greedy recurrence is MMR's
    * textbook sequential part: it unrolls to exactly k−1 bounded plan
    * stages, never a driver loop, and the per-probe extra work is a
    * constant 100 sims regardless of corpus size.
    */
  def embMmr(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("n2").as("nn2"))
    val cands = base.crossJoin(broadcast(probes))
      .withColumn("rel", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
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
      .withColumn("sim", cosine(dotDec(col("ae"), col("be")), col("an2"), col("bn2")))
      .select("pq", "a", "b", "sim")
    // The greedy argmax recurrence runs per query INSIDE ONE TASK
    // (r14, guide §1.2/§2.4): the former unrolled 4-round plan paid an
    // anti-join + semi-join + two broadcasts + a localCheckpoint barrier
    // PER ROUND over ≤ 8·10-row frames — 30 Spark jobs of pure barrier
    // overhead at any scale. A query's whole MMR state is its own ≤ k·10
    // candidates + their ≤ (k·10)² sims, so the selection is
    // group-bounded by construction: candidates and sims shuffle ONCE by
    // q_id and each group's greedy loop is the textbook sequential part,
    // running where the group lives (the per-relation ring-stitch
    // mapGroups precedent — scales to any probe count, no driver loop).
    // Relevance and sims are STILL the distributed exact fixed-point
    // cosines computed above; the task replays only the λ-combination
    // (same IEEE multiply-subtract on identical doubles) and the
    // (score desc, n_id asc) argmax, so results are bit-identical.
    import s.implicits._
    val tagged = cands
      .select(col("q_id"), lit(0).as("kind"), col("n_id").as("x"),
        lit(0L).as("y"), col("rel").as("v"))
      .union(pairs.select(col("pq"), lit(1), col("a"), col("b"),
        col("sim")))
      .toDF("_1", "_2", "_3", "_4", "_5")
      .as[(Long, Int, Long, Long, Double)]
    val sel = tagged.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cs = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      val sim = scala.collection.mutable.HashMap[(Long, Long), Double]()
      it.foreach { case (_, k, x, y, v) =>
        if (k == 0) cs += ((x, v)) else sim((x, y)) = v
      }
      mmrSelect(cs.toSeq, sim).iterator.map { case (nid, r, score) => (q, nid, r, score) }
    }.toDF("q_id", "n_id", "mmr_rank", "score")
    Dedup.releasing(sel.orderBy("q_id", "mmr_rank"), cands)
  }

  /** The greedy MMR selection of one query: `cs` its (n_id, rel)
    * candidates, `sim` the (a, b) → cosine sims between them. Round 1 takes
    * (rel desc, n_id asc); rounds 2–5 take (score desc, n_id asc) over
    * score = 0.7·rel − 0.3·max-sim-to-selected, skipping a candidate with
    * no sim row to any selected node. Every comparison orders doubles as
    * Spark's `ORDER BY` and `max` do (NaN above every number, -0.0 == 0.0),
    * so the picks do not depend on candidate order. Returns
    * (n_id, mmr_rank, score) per pick.
    */
  private[operators] def mmrSelect(cs: Seq[(Long, Double)],
      sim: scala.collection.Map[(Long, Long), Double]): Seq[(Long, Int, Double)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    def better(v: Double, nid: Long, bV: Double, bNid: Long): Boolean = {
      val c = compareDoubles(v, bV)
      c > 0 || (c == 0 && nid < bNid)
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Double)]()
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    // round 1: pure-relevance argmax
    var bNid = -1L; var bRel = 0.0; var found = false
    cs.foreach { case (nid, rel) =>
      if (!found || better(rel, nid, bRel, bNid)) {
        bNid = nid; bRel = rel; found = true
      }
    }
    if (found) { out += ((bNid, 1, 0.7 * bRel)); selected += bNid }
    var r = 2
    while (r <= 5 && found) {
      var pNid = -1L; var pScore = 0.0; found = false
      cs.foreach { case (nid, rel) =>
        if (!selected.contains(nid)) {
          val sims = selected.flatMap(sl => sim.get((nid, sl)))
          if (sims.nonEmpty) {
            val msim = sims.reduce((a, b) => if (compareDoubles(b, a) > 0) b else a)
            val score = 0.7 * rel - 0.3 * msim
            if (!found || better(score, nid, pScore, pNid)) {
              pNid = nid; pScore = score; found = true
            }
          }
        }
      }
      if (found) { out += ((pNid, r, pScore)); selected += pNid }
      r += 1
    }
    out.toSeq
  }

  /** BINARY-embedding retrieval — the sign-bit binarization face of the
    * similarity scan (Charikar 2002's SRP in its cheapest basis; the
    * "binary embeddings" mode vector stores ship for 32× compression):
    * each 64-dim vector packs to ONE int64 of sign bits (bit i set iff
    * x_i > 0), probes broadcast, and ranking is `bit_count(xor)` Hamming
    * distance — top-5 per probe, ties by n_id. Exact integer end to end
    * (the signed 64-bit pattern sums identically from distinct bit
    * terms in both engines), so ranks can't flip cross-engine.
    *
    * Scale shape: signature packing is ONE scan-side HOF fold per vector
    * (no explosion); the scan ships 8 bytes per corpus vector instead of
    * 256 — the compression IS the operator's point at 100 TB — and the
    * top-5 prunes as WindowGroupLimit before any exchange.
    */
  def annHamming(s: SparkSession, dir: String): DataFrame = {
    val bits = expr(
      "aggregate(transform(sequence(0, size(embedding) - 1), " +
        "i -> IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT), " +
        "shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)")
    val e = Tables.embeddings(s, dir).withColumn("sig", bits)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("sig").as("qs"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("sig").as("ns"))
    base.crossJoin(broadcast(queries))
      .withColumn("hamming", expr("CAST(bit_count(qs ^ ns) AS BIGINT)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("hamming"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "hamming")
  }

  /** Hard-NEGATIVE mining — the contrastive-training data op (Schroff
    * et al. 2015's mining step; dense-retrieval trainers à la RocketQA
    * run exactly this at corpus scale): for each probe (vec_id < 8),
    * the top-5 nearest corpus vectors of a DIFFERENT class — the
    * near-misses that teach the margin. Same brute-force scan shape as
    * `ann_topk`: probes broadcast once, corpus scanned once, the label
    * mismatch evaluates scan-side BEFORE any ranking work, per-probe
    * top-5 prunes as WindowGroupLimit; the IVF/LSH routes accelerate it
    * identically when the corpus outgrows the scan. Ranking by the same
    * exact fixed-point cosine as everywhere.
    */
  def annHardneg(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("n2").as("qn2"), col("label").as("q_label"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"),
        col("n2").as("nn2"), col("label").as("n_label"))
    base.crossJoin(broadcast(queries))
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "q_label", "n_id", "n_label", "rnk", "cos")
  }

  /** HYBRID retrieval — reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher, SIGIR 2009) of the corpus's two retrieval modalities:
    * the BM25 lexical top-5 ([[TextOps.textBm25]]'s query set — every
    * 101st doc) and the embedding-cosine top-5 over the SAME ids
    * (vec_id ↔ doc_id, probes = vec_id % 101 = 0, corpus = the rest —
    * mirroring BM25's corpus split). RRF score = Σ_lists 10⁶ div
    * (60 + rank): rank-only fusion needs NO score normalization across
    * the incomparable BM25/cosine scales — the reason RRF beats score
    * fusion operationally — and the integer quotients replay bit-exact.
    * Docs found by both modalities outrank either alone (the fusion
    * property retrieval stacks buy this operator for).
    *
    * Scale shape: each branch keeps its own scale story (BM25: postings
    * + broadcast query terms, corpus never shuffles for the match;
    * cosine: probes broadcast once, corpus scanned once, top-5
    * WindowGroupLimit-pruned) and each emits ≤ 5·|queries| rows, so the
    * full-outer fusion join and the final re-rank run on query-scale
    * frames — fusion cost is independent of corpus size by construction.
    */
  def annHybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = TextOps.textBm25(s, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("lex_rk"))
    val e = withNorm(s, dir)
    // the semantic retriever is the INDEXED route (r14): hybrid's query
    // set scales with the corpus (every 101st id, aligned with the BM25
    // query docs), so the former brute broadcast scan was
    // queries×corpus — quadratic in sf (measured ×15.8 at sf1). A
    // 16-cell IVF (centroids = vecs 8..23, same argmax/tiebreak
    // discipline as ann_ivf) makes assignment corpus×16 — constant in
    // sf — and each probe reranks only its nprobe=2 cells. Production
    // hybrid search fuses indexed retrievers on BOTH sides; the exact
    // brute scan remains ann_topk's declared baseline.
    val cents = e.filter(col("vec_id") >= 8 && col("vec_id") < 24)
      .select("vec_id", "embedding", "n2")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))
    def cs(emb: Column, n2: Column) = cellScores(cents)(emb, n2)
    val base = e.filter(col("vec_id") % 101 =!= 0)
      .withColumn("cell",
        -array_max(cs(col("embedding"), col("n2"))).getField("nid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    val probes = e.filter(col("vec_id") % 101 === 0)
      .withColumn("probe", explode(
        slice(reverse(sort_array(cs(col("embedding"), col("n2")))), 1, 2)))
      .select((-col("probe.nid")).as("cell"), col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    // no static broadcast hint on the probe frame (r14): probes are
    // every-101st-doc — corpus-proportional — so a pinned broadcast()
    // would ship a corpus fraction through the driver at 100×. AQE
    // sizes the runtime exchange and still picks a broadcast join at
    // scales where the probe set fits (PlanAuditSpec pins that).
    val sem = base.join(probes, Seq("cell"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("sem_rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("sem_rk") <= 5)
      .select(col("q_id"), col("n_id"), col("sem_rk"))
    // fusion as UNION + re-aggregate, not an outer join: both lists carry
    // the same (query, doc) key, so max() folds them and a doc missing
    // from a list keeps rank 0 — no join operator at all on a frame this
    // size beats planning one
    val lexPart = lex.select(col("query_id").as("qid"), col("doc_id").as("did"),
      col("lex_rk"), lit(0).as("sem_rk"))
    val semPart = sem.select(col("q_id").as("qid"), col("n_id").as("did"),
      lit(0).as("lex_rk"), col("sem_rk"))
    lexPart.unionByName(semPart)
      .groupBy("qid", "did")
      .agg(max("lex_rk").as("lex_rk"), max("sem_rk").as("sem_rk"))
      .withColumn("rrf6",
        expr("case when lex_rk = 0 then 0L else cast(1000000 as bigint) div cast(60 + lex_rk as bigint) end") +
          expr("case when sem_rk = 0 then 0L else cast(1000000 as bigint) div cast(60 + sem_rk as bigint) end"))
      .withColumn("frank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("rrf6"), col("did"))))
      .filter(col("frank") <= 5)
      .select(col("qid").as("query_id"), col("did").as("doc_id"), col("rrf6"),
        col("frank"), col("lex_rk"), col("sem_rk"))
  }

  /** The 8 deterministic integer hyperplanes shared by [[annLsh]] and
    * [[annLshMp]] (an offline LSH index ships its planes like IVF ships
    * centroids).
    */
  private val LshPlanes: Seq[Seq[Float]] = (0 until 8).map { p =>
    (0 until 64).map { i =>
      (((i + 1).toLong * (p + 3) * 2654435761L) % 2001L - 1000L).toFloat
    }
  }

  /** Hyperplane-LSH bucketed ANN: 8 deterministic integer hyperplanes →
    * sign-bit bucket; candidates are same-bucket only, then exact cosine
    * top-3. Bucket signs use the same fixed-point dot9 kernel as the
    * cosines, so the whole pipeline — bucketing included — replays
    * exactly in the DuckDB oracle (bucketing stays recall-lossy by
    * design; PipelineSpec checks containment in the brute-force ranking).
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val planes = LshPlanes
    def bucketOf(emb: Column): Column =
      (0 until 8).map { p =>
        when(call_function("dot9", emb, typedLit(planes(p))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)

    val e = withNorm(s, dir).withColumn("bucket", bucketOf(col("embedding")))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("bucket"), col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .select(col("bucket"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    base.join(broadcast(queries), Seq("bucket"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "n_id", "rnk", "bucket", "cos")
  }

  /** MULTI-PROBE hyperplane LSH (`ann_lsh_mp`; Lv et al. 2007,
    * "Multi-Probe LSH") — the standard recall-repair for the bucketing
    * scheme [[annLsh]] leaves recall-lossy: a query probes its home
    * bucket PLUS the buckets reached by flipping its two
    * LOWEST-|MARGIN| hyperplane bits (the planes the query sits closest
    * to are exactly the signs most likely wrong for its true
    * neighbors), ~tripling candidates for the same table instead of
    * tripling the number of hash tables. Margins are the same
    * fixed-point dot9 values the bucket signs use (ties break to the
    * lower plane index), so probe selection replays bit-for-bit in the
    * oracle; `from_flip` marks results only reachable through a flipped
    * bucket — the recall the home bucket alone would have missed,
    * load-bearing in the driver check.
    *
    * Scale shape: identical to [[annLsh]] — probe derivation is map-side
    * arithmetic on the query rows (an 8-struct in-row sort), the ×3
    * explode rides the broadcast query frame, and the base side still
    * joins on its ONE bucket key. A billion-vector table pays nothing:
    * multi-probe moves cost onto the (small) query side.
    */
  def annLshMp(s: SparkSession, dir: String): DataFrame = {
    val planes = LshPlanes
    def dots(emb: Column): Seq[Column] =
      (0 until 8).map(p => call_function("dot9", emb, typedLit(planes(p))))
    def bucketOf(emb: Column): Column =
      dots(emb).zipWithIndex.map { case (d, p) =>
        when(d > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    // the two smallest |margin| planes, ties to the lower index: an
    // ascending struct-array sort on (|d|, p)
    def probesOf(emb: Column): Column = {
      val margins = sort_array(array(dots(emb).zipWithIndex.map {
        case (d, p) => struct(abs(d).as("m"), lit(p).as("p"))
      }: _*))
      def mask(f: Column): Column =
        (1 until 8).foldLeft(when(f === 0, lit(1))) {
          case (acc, p) => acc.when(f === p, lit(1 << p))
        }.otherwise(lit(0))
      val home = bucketOf(emb)
      array(home,
        home.bitwiseXOR(mask(margins.getItem(0).getField("p"))),
        home.bitwiseXOR(mask(margins.getItem(1).getField("p"))))
    }

    val e = withNorm(s, dir)
    val queries = e.filter(col("vec_id") < 8)
      .withColumn("home", bucketOf(col("embedding")))
      .withColumn("bucket", explode(probesOf(col("embedding"))))
      .select(col("bucket"), col("home"), col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    val base = e.filter(col("vec_id") >= 8)
      .withColumn("bucket", bucketOf(col("embedding")))
      .select(col("bucket"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    base.join(broadcast(queries), Seq("bucket"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 3)
      .withColumn("from_flip", col("bucket") =!= col("home"))
      .select("q_id", "n_id", "rnk", "cos", "from_flip")
  }

  /** K=8 fixed centroids (embeddings of vec_id 8..15) — the offline index
    * artifact shared by [[annIvf]] and [[embKmeans]]; an 8-row collect is
    * the same driver-side index build as the reference's spatial grid.
    */
  private def centroidsOf(e: DataFrame): Array[(Long, Seq[Float], Long)] =
    e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select("vec_id", "embedding", "n2")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getLong(2)))

  // (cos, -c_id) struct array: array_max picks highest cosine, ties break
  // to the LOWEST centroid id (matching ORDER BY ccos DESC, c_id ASC)
  private[operators] def cellScores(cents: Array[(Long, Seq[Float], Long)])(
      emb: Column, n2: Column): Column =
    array(cents.map { case (cid, vec, cn2) =>
      struct(
        cosine(dotDec(emb, typedLit(vec)), n2, lit(cn2)).as("c"),
        lit(-cid).as("nid"))
    }: _*)

  /** IVF-Flat ANN: K=8 fixed centroids (the embeddings of vec_id 8..15 —
    * IVF centroids are offline training artifacts, so a deterministic
    * driver-scale constant is the honest analog), every vector assigned to
    * its nearest-cosine cell, queries probe their nprobe=2 nearest cells,
    * exact cosine rerank inside the probed cells only.
    *
    * Scale shape: the centroid table is collected once and inlined as
    * literals, so CELL ASSIGNMENT IS PURE MAP WORK — an argmax over an
    * in-row struct array, no shuffle and no join for the 100 TB base side;
    * the only join is base ⨝ broadcast(query probes) on the cell key.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    def cellScoresC(emb: Column, n2: Column) = cellScores(cents)(emb, n2)

    val base = e.filter(col("vec_id") >= 8)
      .withColumn("cell", -array_max(cellScoresC(col("embedding"), col("n2"))).getField("nid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    val probes = e.filter(col("vec_id") < 8)
      .withColumn("probe", explode(
        slice(reverse(sort_array(cellScoresC(col("embedding"), col("n2")))), 1, 2)))
      .select((-col("probe.nid")).as("cell"), col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    base.join(broadcast(probes), Seq("cell"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "n_id", "rnk", "cell", "cos")
  }

  /** IVF INDEX BALANCE AUDIT — the cell-occupancy report an operator
    * reads before trusting the index's probe cost model: per cell the
    * vector count, per-mille share, total fixed-point energy (Σ n2 — a
    * drift/scale signal across re-trainings), and a hot-cell flag at 2×
    * the uniform share. A skewed cell map means nprobe queries landing
    * in the hot cell pay an unbudgeted scan — the measured form of the
    * imbalance every IVF paper warns about (and the reason `geo_knn`
    * needed its density-adaptive ladder at sf1).
    *
    * Scale shape: identical to [[annIvf]]'s base side — cell assignment
    * is pure map work against inlined centroid literals, one aggregate
    * collapses the corpus into the K-row cell frame, the share window
    * rides that frame. No join touches the fact side.
    */
  def annCellStats(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    e.filter(col("vec_id") >= 8)
      .withColumn("cell", -array_max(
        cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum("n2").as("sum_n2"))
      .withColumn("share_pm", expr("(1000 * n_vecs) div sum(n_vecs) over ()"))
      .withColumn("hot", col("share_pm") >= 250)
      .select("cell", "n_vecs", "share_pm", "sum_n2", "hot")
      .orderBy("cell")
  }

  /** FILTERED vector search — attribute-constrained ANN ("top-k among
    * vectors WHERE label = X"), the operation every production vector
    * store now exposes and the naive composition gets wrong: filtering
    * AFTER a plain top-k probe returns < k results whenever the
    * predicate is selective. This is the PRE-FILTER design point: the
    * label predicate applies as the probe joins the cell scan, and the
    * probe OVERSEARCHES at nprobe = 4 (vs [[annIvf]]'s 2) because a
    * 1/|labels| filter thins every cell by that factor — the filtered
    * recall/cost trade every vector-store paper documents. Target label
    * = the query's own (nearest same-class neighbors — the
    * kNN-classifier / hard-positive mining shape); `n_cand` reports the
    * surviving candidate count so the oversearch margin is measured,
    * not assumed.
    *
    * Scale shape: identical to [[annIvf]] — map-only cell assignment
    * with inlined centroid literals, broadcast 8-query probe set, the
    * label filter rides the probe join (no extra exchange), top-3 via
    * WindowGroupLimit on the candidate frame.
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    def cs(emb: Column, n2: Column) = cellScores(cents)(emb, n2)
    val base = e.filter(col("vec_id") >= 8)
      .withColumn("cell",
        -array_max(cs(col("embedding"), col("n2"))).getField("nid"))
      .select(col("cell"), col("label"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    val probes = e.filter(col("vec_id") < 8)
      .withColumn("probe", explode(
        slice(reverse(sort_array(cs(col("embedding"), col("n2")))), 1, 4)))
      .select((-col("probe.nid")).as("cell"), col("label").as("q_label"),
        col("vec_id").as("q_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    base.join(broadcast(probes), Seq("cell"))
      .filter(col("label") === col("q_label"))
      .withColumn("cos",
        cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy("q_id")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "label", "n_id", "rnk", "cell", "cos", "n_cand")
  }

  /** RECALL-vs-NPROBE curve — the IVF quality/cost DIAL measured, one
    * step past [[annRecall]]'s single point: recall@3 against the brute
    * truth at nprobe ∈ {1, 2, 4} in one key. This is the graph an
    * operator reads before picking the production nprobe — the whole
    * point of IVF is that this curve climbs steeply (cells probed is
    * the unit of corpus read, so nprobe IS the cost axis). Exact
    * per-mille recall; candidate (q, n) pairs are unique by
    * construction (a base vector lives in exactly one cell).
    *
    * Scale shape: ONE base scan assigns cells map-only (inlined
    * centroid literals, the [[annIvf]] discipline) and joins the
    * broadcast 32-row probe set; the candidate frame is cached once and
    * reranked per level (WindowGroupLimit pushes the top-3 partial
    * map-side, so no level funnels the corpus through 8 reducers); the
    * brute truth is the one whitelisted broadcast cross join, computed
    * once and reused semi-join-side across levels.
    */
  def annNprobe(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    def cs(emb: Column, n2: Column) = cellScores(cents)(emb, n2)
    val base = e.filter(col("vec_id") >= 8)
      .withColumn("cell",
        -array_max(cs(col("embedding"), col("n2"))).getField("nid"))
      .select(col("cell"), col("vec_id").as("n_id"),
        col("embedding").as("ne"), col("n2").as("nn2"))
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("n2").as("qn2"),
        posexplode(slice(reverse(sort_array(cs(col("embedding"), col("n2")))), 1, 4))
          .as(Seq("p0", "probe")))
      .select(col("q_id"), col("qe"), col("qn2"),
        (col("p0") + 1).as("prk"), (-col("probe.nid")).as("cell"))
    val cand = base.join(broadcast(probes), Seq("cell"))
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .select("q_id", "n_id", "prk", "cos")
      .cache()
    val brute = annTopk(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id")).cache()
    val truth = brute.agg(count(lit(1)).as("n_truth"))
    val curve = Seq(1, 2, 4).map { p =>
      cand.filter(col("prk") <= p)
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
        .filter(col("rnk") <= 3)
        .join(brute, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(p.toLong).as("nprobe"), col("n_hits"))
    }.reduce(_ unionAll _)
    Dedup.releasing(
      curve.crossJoin(broadcast(truth))
        .withColumn("recall_pm", expr("(1000 * n_hits) div n_truth"))
        .select("nprobe", "n_hits", "n_truth", "recall_pm")
        .orderBy("nprobe"),
      cand, brute)
  }

  /** One Lloyd iteration of k-means over the embedding corpus: assign
    * every base vector to its nearest-cosine centroid (same map-only
    * argmax as [[annIvf]] — no shuffle for the big side), then reduce the
    * new per-cell centroid as exact fixed-point component sums + member
    * counts (mean = sum9/n, computed by the consumer — emitting the
    * integers keeps the result order-independent and engine-exact).
    * Iterating = feeding the means back as next-round centroids; each
    * round is one scan + one (cell, dim)-keyed partial aggregation, the
    * canonical distributed-kmeans shape.
    */
  def embKmeans(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    e.filter(col("vec_id") >= 8)
      .withColumn("cell",
        -array_max(cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i0", "ev")))
      .groupBy(col("cell"), (col("i0") + 1).as("i"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("ev") * 1e9).cast("bigint")).as("sum9"))
  }

  /** Embedding-space outlier flagging — the cleaning pass a training
    * pipeline runs before ANN indexing or SemDeDup: every base vector is
    * assigned to its nearest centroid (the same map-only inlined-literal
    * argmax as [[annIvf]]) and flagged when its centroid cosine falls
    * below 0.9× its cell's mean. Cosines round to exact micro-cosine
    * BIGINTs before any aggregation (a double sum is order-dependent
    * across engines), and the verdict is the integer cross-multiplication
    * `10·n·cos6 < 9·Σcos6` — no float boundary to flip.
    *
    * Scale shape: assignment is scan-side; the cell-stats aggregate
    * partial-aggs map-side into a K-row frame that broadcasts back onto a
    * second pass of the same scan lineage. The rescan is deliberate: a
    * `sum over (partition by cell)` window would funnel the entire corpus
    * through K=8 reducers — with K this small, re-scanning (cheap,
    * pushdown-friendly, no wide exchange) beats the skew bomb.
    */
  /** EMBEDDING DRIFT MONITOR — the distribution check a production
    * pipeline runs before trusting a new ingest batch against its
    * reference corpus: per DIMENSION, exact integer first/second
    * moments of the reference half (vec_id below the midpoint) vs the
    * candidate half, plus a drift verdict by cross-multiplied mean
    * gap (`|S_a·n_b − S_b·n_a| · 20 > n_a·n_b·10⁶` ⇔ |Δmean| > 0.05 —
    * no float threshold to flip between engines). Components quantize
    * at 1e6 fixed point (the flatSql rounding discipline), so both
    * engines sum identical integers in any order.
    *
    * Scale shape: ONE scan; the per-component explode partial-
    * aggregates map-side into the (2 halves × 64 dims)-bounded frame —
    * the exchange carries ≤128 rows per partition at any corpus size;
    * the split point binds as a broadcast 1-row max aggregate.
    */
  def embDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val mid = e.agg(((max("vec_id") + 1L) / 2L).cast("bigint").as("mid"))
    val moments = e.crossJoin(broadcast(mid))
      .select(when(col("vec_id") < col("mid"), lit(0L)).otherwise(lit(1L))
        .as("half"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("half"), col("i").cast("bigint").as("dim"),
        expr("cast(round(v * 1000000.0) as bigint)").as("v6"))
      .groupBy("dim")
      .agg(
        sum(when(col("half") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("half") === 0L, col("v6")).otherwise(0L)).as("sum_a6"),
        sum(when(col("half") === 1L, col("v6")).otherwise(0L)).as("sum_b6"),
        sum(when(col("half") === 0L, col("v6") * col("v6")).otherwise(0L)).as("ssq_a6"),
        sum(when(col("half") === 1L, col("v6") * col("v6")).otherwise(0L)).as("ssq_b6"))
    moments
      .withColumn("drift", abs(col("sum_a6") * col("n_b") -
        col("sum_b6") * col("n_a")) * 20L > col("n_a") * col("n_b") * 1000000L)
      .orderBy("dim")
  }

  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    val asg = e.filter(col("vec_id") >= 8)
      .withColumn("best",
        array_max(cellScores(cents)(col("embedding"), col("n2"))))
      .select(col("vec_id"), (-col("best.nid")).as("cell"),
        expr("cast(round(best.c * 1000000.0) as bigint)").as("cos6"))
    val stats = asg.groupBy("cell")
      .agg(sum("cos6").as("sum6"), count(lit(1)).as("cell_n"))
    asg.join(broadcast(stats), "cell")
      .select(col("vec_id"), col("cell"), col("cos6"), col("cell_n"),
        (lit(10) * col("cell_n") * col("cos6") < lit(9) * col("sum6"))
          .as("is_outlier"))
  }

  /** Per-DIMENSION standardization profile (`emb_stats`) — the μ/σ table
    * a feature-normalization stage freezes before training, plus the 4σ
    * tail census that flags dead or saturated dimensions. All exact
    * integers: x6 = round(x·1e6); variance via the cross-multiplied
    * moment identity n·Σx² − (Σx)² in DECIMAL(38,0) (never a float
    * mean); σ by EXACT integer sqrt — floor(sqrt(double)) then a ±1
    * correction against the integer square, portable because the double
    * estimate is within 1 of the true root for any BIGINT input.
    *
    * Scale shape: one posexplode scan partial-aggregates into the d-row
    * moment frame; the frame broadcasts back onto a rescan for the tail
    * census — the emb_quantize discipline, corpus never shuffles.
    */
  def embStats(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("dim").cast("bigint").as("dim"),
        expr("cast(round(cast(e as double) * 1e6) as bigint)").as("x6"))
    val stats = ex.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum("x6").as("sx"),
        sum(expr("cast(x6 as decimal(38,0)) * cast(x6 as decimal(38,0))"))
          .as("sxx"))
      .withColumn("mean6", expr("sx div n"))
      .withColumn("varr", expr(
        """cast((cast(n as decimal(38,0)) * sxx
          |  - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))
          |  / (cast(n as decimal(38,0)) * cast(n as decimal(38,0))) as bigint)"""
          .stripMargin))
      .withColumn("s0", expr("cast(floor(sqrt(cast(varr as double))) as bigint)"))
      .withColumn("sigma6", expr(
        """s0 + (case when (s0 + 1) * (s0 + 1) <= varr then 1 else 0 end)
          |   - (case when s0 * s0 > varr then 1 else 0 end)""".stripMargin))
      .select("dim", "n", "mean6", "sigma6")
    ex.join(broadcast(stats), "dim")
      .groupBy("dim")
      .agg(max("n").as("n"), max("mean6").as("mean6"),
        max("sigma6").as("sigma6"),
        sum(when(abs(col("x6") - col("mean6")) > lit(4L) * col("sigma6"), 1L)
          .otherwise(0L)).as("n_out4"))
      .orderBy("dim")
  }

  /** Scalar int8 quantization of the embedding corpus (the compression
    * pass a vector store runs before sharding — FAISS's SQ8 layout):
    * per-DIMENSION min/max over the corpus define a 255-step grid,
    * `q = ((x9 − min9)·255) div max(1, max9 − min9)`, dequantized error
    * audited per vector. Everything runs on the [[graft.functions
    * .VecKernels.dot9]] fixed-point convention (x9 = round(x·1e9), exact
    * and tie-free for floats), so codes and errors are bit-identical
    * cross-engine — a float `(x−min)/(max−min)` would flip codes at grid
    * boundaries.
    *
    * Scale shape: the stats pass partial-aggregates into a d-row (64)
    * frame that BROADCASTS back onto a rescan; per-vector code/error
    * rollup reuses the posexplode scan with one vec_id-keyed exchange.
    * The corpus never shuffles wider than (vec × dim) rows carrying
    * 3 longs.
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val x9 = expr("cast(round(cast(e as double) * 1e9) as bigint)")
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("vec_id"), col("label"), col("dim"), x9.as("x9"))
    val stats = ex.groupBy("dim")
      .agg(min("x9").as("min9"), max("x9").as("max9"))
    ex.join(broadcast(stats), "dim")
      .withColumn("rng", greatest(col("max9") - col("min9"), lit(1L)))
      .withColumn("q", expr("((x9 - min9) * 255L) div rng"))
      .withColumn("xq9", col("min9") + expr("(q * rng) div 255L"))
      .withColumn("err9", abs(col("x9") - col("xq9")))
      .groupBy("vec_id", "label")
      .agg(sum("q").as("sum_q"),
        max("err9").as("max_err9"),
        sum("err9").as("sum_err9"))
      .orderBy("vec_id")
  }

  /** Principal-component projection of the embedding corpus — the
    * whitening / dimensionality-reduction pass a training pipeline runs
    * before ANN indexing or semantic clustering. Uncentered PCA (the
    * corpus vectors are unit-normalized, mean ≈ 0): the top singular
    * direction of X, computed as 4 rounds of exact integer power
    * iteration on the fixed-point second-moment matrix
    * S_ij = Σ_rows round((x_i·x_j)·1e9), rescaled each round to 1e6 by
    * truncating division against the round's max |entry| — every step is
    * integer arithmetic (BigInt on the driver, chained CTEs in the
    * oracle), so both engines derive the bit-identical component without
    * any eigensolver. Output is each vector's projection
    * proj15 = Σ_i round(x_i·1e9)·v_i onto that component.
    *
    * Scale shape: the moment entries come from the one-pass codegen
    * `mom9` kernel (d(d+1)/2 = 2080 longs per row), partial-aggregate
    * map-side into a 2080-key frame — the corpus collapses into a
    * d×d matrix in ONE scan with no shuffle wider than 2080 keys (sums
    * ride DECIMAL(38,0): 1e9-scale entries × 1e11 rows ≪ 1e38). The
    * power iteration touches only that matrix (driver-side BigInt, like
    * the k-means centroid loop), and the projection pass is a second
    * scan with the component inlined as a 64-term codegen sum — map-only,
    * no exchange at all.
    */
  /** Principal component per corpus dir, memoized like the geo_knn row
    * count: the projection needs the component at plan-CONSTRUCTION time
    * and the dirs are write-once, so the moment-matrix job runs once per
    * dir instead of on every explain/plan-audit/bench rep.
    */
  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private val PcaDim = 64

  /** Top-2 components per dir: the moment matrix once, then v1 by power
    * iteration and v2 by power iteration on the EXACT-INTEGER Hotelling
    * deflation S₂ = S·d² − n·v₁'v₁'ᵀ (v₁' = v₁ div 1000, d = v₁'ᵀv₁',
    * n = v₁'ᵀSv₁' — multiplying the rational λ = n/d² through keeps
    * every entry an integer, so both engines derive the bit-identical
    * second direction too). Returned flat: v1 ++ v2.
    */
  private def pcaComponents(e: DataFrame, dir: String): Array[Long] =
    pcaCache.computeIfAbsent(dir, _ => {
      val dim = PcaDim
      val dec = "decimal(38,0)"
      val tri = e
        .select(posexplode(call_function("mom9", col("embedding")))
          .as(Seq("pos", "p")))
        .groupBy("pos").agg(sum(col("p").cast(dec)).as("sv"))
        .collect()
      val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
      val mat = Array.fill(dim, dim)(BigInt(0))
      tri.foreach { r =>
        val (i, j) = pairs(r.getInt(0))
        val v = BigInt(r.getDecimal(1).toBigInteger)
        mat(i)(j) = v
        mat(j)(i) = v
      }
      def iterate(m: Array[Array[BigInt]], scale: Long): Array[BigInt] = {
        var v = Array.fill(dim)(BigInt(scale))
        for (_ <- 1 to 4) {
          val w = Array.tabulate(dim)(i => (0 until dim).map(j => m(i)(j) * v(j)).sum)
          val mx = w.map(_.abs).max.max(BigInt(1))
          v = w.map(x => BigInt(x.signum) * ((x.abs * scale) / mx))
        }
        v
      }
      val v1 = iterate(mat, 1000000L)
      // deflate at 1e3 scale so S·d² stays within the oracle's HUGEINT
      val v1s = v1.map(x => BigInt(x.signum) * (x.abs / 1000))
      val d1 = v1s.map(x => x * x).sum.max(BigInt(1))
      val sv = Array.tabulate(dim)(i => (0 until dim).map(j => mat(i)(j) * v1s(j)).sum)
      val n1 = (0 until dim).map(i => v1s(i) * sv(i)).sum
      val mat2 = Array.tabulate(dim, dim)((i, j) =>
        mat(i)(j) * d1 * d1 - n1 * v1s(i) * v1s(j))
      // the deflated matrix carries d^2-scaled entries; iterating at 1e3
      // keeps w*scale within the oracle's INT128 at any bench SF
      val v2 = iterate(mat2, 1000L)
      (v1 ++ v2).map(_.toLong)
    })

  private def pcaProjExpr(comp: Array[Long], from: Int): String =
    (0 until PcaDim).map(i =>
      s"cast(round(cast(embedding[$i] as double) * 1e9) as bigint) * ${comp(from + i)}L")
      .mkString(" + ")

  def embPca(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GeoFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val comp = pcaComponents(e, dir)
    e.select(col("vec_id"), col("label"),
      expr(pcaProjExpr(comp, 0)).as("proj15"))
  }

  /** The 2-D projection — [[embPca]] plus the SECOND principal direction
    * from exact integer Hotelling deflation (see [[pcaComponents]]):
    * proj2 is each vector's projection onto the dominant direction of
    * S·d² − n·v₁'v₁'ᵀ. Standard fixed-round deflation with an
    * approximate v₁ — the residual v₁ component is part of the DEFINED
    * op, identically derived in both engines. Same plan shape as
    * [[embPca]]: the projection pass is map-only with both components
    * inlined as codegen sums.
    */
  def embPca2(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GeoFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val comp = pcaComponents(e, dir)
    e.select(col("vec_id"), col("label"),
      expr(pcaProjExpr(comp, 0)).as("proj15"),
      expr(pcaProjExpr(comp, PcaDim)).as("proj2_15"))
  }

  /** Fixed-point dot9-compatible squared norm of a driver-side vector. */
  private[operators] def n2Of(v: Seq[Float]): Long =
    v.map(x => math.round(x.toDouble * x.toDouble * 1e9)).sum

  /** The full Lloyd LOOP [[embKmeans]] is one round of: run `rounds`
    * iterations from `init` centroids, feeding each round's means back as
    * the next round's centroid literals. Per round the cluster assignment
    * is the same map-only argmax as [[annIvf]] (centroids inlined — the
    * 100 TB corpus never shuffles for assignment) and the reduce is the
    * exact fixed-point (cell, dim) partial sum of [[embKmeans]]; only the
    * K×dim sum table ever reaches the driver. Empty cells keep their
    * centroid (the standard Lloyd convention). Returns the final
    * (cell id, mean vector) per centroid.
    */
  def kmeansRounds(emb: DataFrame, init: Seq[(Long, Seq[Float])],
      rounds: Int): Seq[(Long, Seq[Float])] = {
    graft.functions.GeoFunctions.register(emb.sparkSession)
    val e = emb.withColumn("n2",
      call_function("dot9", col("embedding"), col("embedding")))
    var cents = init.map { case (cid, v) => (cid, v, n2Of(v)) }.toArray
    for (_ <- 0 until rounds) {
      val sums = e
        .withColumn("cell",
          -array_max(cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i0", "ev")))
        .groupBy("cell", "i0")
        .agg(count(lit(1)).as("n"), sum(round(col("ev") * 1e9).cast("bigint")).as("sum9"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (cid, old, oldN2) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val mean = new Array[Float](old.length)
            rows.foreach { r =>
              mean(r.getInt(1)) = (r.getLong(3).toDouble / 1e9 / r.getLong(2)).toFloat
            }
            (cid, mean.toSeq, n2Of(mean))
          case None => (cid, old, oldN2)
        }
      }
    }
    cents.map { case (cid, v, _) => (cid, v) }.toSeq
  }

  /** Product-quantization ANN (PQ/ADC): M=2 subspaces × K=4 codewords.
    * Codewords are the subvectors of vec_id 8..11 — like [[annIvf]]'s
    * centroids, the codebook is an offline training artifact, so a
    * deterministic driver-scale constant is the honest analog. Every base
    * vector is ENCODED as (code0, code1) = per-subspace argmin of the
    * fixed-point squared distance n2(sub) + n2(cw) − 2·dot9(sub, cw) —
    * exact integers, ties to the smaller code — and queries score
    * candidates by ADC: per-query lookup tables of the 4 distances per
    * subspace, summed by code. Everything is integer fixed-point, so
    * encode, LUT, and ranking replay bit-for-bit in the oracle.
    *
    * Scale shape: encoding is pure scan-side map work (8 dot9 kernels
    * against inlined codeword literals — no shuffle, no join); the stored
    * index is 2 small ints per vector (the whole point of PQ: the 100 TB
    * float corpus compresses to codes); ADC is a map-only crossJoin with
    * the broadcast 8-row query LUT; the final top-5 rank is
    * WindowGroupLimit-pruned map-side before the per-query merge, so the
    * 8-partition window never sees more than 5 rows per upstream
    * partition.
    */
  def annPq(s: SparkSession, dir: String): DataFrame =
    annPqOf(s, Tables.embeddings(s, dir))

  /** PQ codebook: per subspace (m=0: dims 1-32, m=1: dims 33-64), the K=4
    * codeword subvectors + their fixed-point squared norms. A 4-row
    * collect — an offline training artifact, like [[centroidsOf]].
    */
  private def pqCodebookOf(e: DataFrame): Array[(Seq[Float], Long, Seq[Float], Long)] =
    e.filter(col("vec_id") >= 8 && col("vec_id") < 12)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Float](1)
        (v.take(32), n2Of(v.take(32)), v.drop(32), n2Of(v.drop(32)))
      }

  /** Adds d$m$k columns: the exact fixed-point squared L2 distance of each
    * row's subvector m to codeword k — scan-side map work (8 dot9 kernels
    * against inlined codeword literals).
    */
  private def pqWithDists(cb: Array[(Seq[Float], Long, Seq[Float], Long)])(
      df: DataFrame): DataFrame = {
    def l2fix(m: Int, k: Int): Column = {
      val (cw, cn2) = if (m == 0) (cb(k)._1, cb(k)._2) else (cb(k)._3, cb(k)._4)
      col(s"sn$m") + lit(cn2) - lit(2L) * dotDec(col(s"s$m"), typedLit(cw))
    }
    val base = df
      .withColumn("s0", slice(col("embedding"), 1, 32))
      .withColumn("s1", slice(col("embedding"), 33, 32))
      .withColumn("sn0", dotDec(col("s0"), col("s0")))
      .withColumn("sn1", dotDec(col("s1"), col("s1")))
    (for (m <- 0 until 2; k <- 0 until 4) yield (m, k))
      .foldLeft(base) { case (acc, (m, k)) =>
        acc.withColumn(s"d$m$k", l2fix(m, k)) }
  }

  /** Per-subspace argmin over the d$m$k columns; ties to the smaller code. */
  private def pqArgmin(m: Int): Column = {
    val d = (0 until 4).map(k => col(s"d$m$k"))
    when(d(0) <= d(1) && d(0) <= d(2) && d(0) <= d(3), lit(0))
      .when(d(1) <= d(2) && d(1) <= d(3), lit(1))
      .when(d(2) <= d(3), lit(2)).otherwise(lit(3))
  }

  private[graft] def annPqOf(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.GeoFunctions.register(s)
    val withDists = pqWithDists(pqCodebookOf(e)) _
    def argmin(m: Int): Column = pqArgmin(m)
    val enc = withDists(e.filter(col("vec_id") >= 8))
      .withColumn("code0", argmin(0)).withColumn("code1", argmin(1))
      .select(col("vec_id").as("n_id"), col("code0"), col("code1"))
    val lut = withDists(e.filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"),
        array((0 until 4).map(k => col(s"d0$k")): _*).as("lut0"),
        array((0 until 4).map(k => col(s"d1$k")): _*).as("lut1"))
    enc.crossJoin(broadcast(lut))
      .withColumn("adc", element_at(col("lut0"), col("code0") + 1)
        + element_at(col("lut1"), col("code1") + 1))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "code0", "code1", "adc")
  }

  /** TWO-STAGE RETRIEVAL (`ann_rerank`) — the production search shape:
    * a cheap approximate FIRST stage (PQ/ADC over 2-byte codes) shortlists
    * R=10 candidates per query, and an exact SECOND stage re-scores ONLY
    * the shortlist with full-precision cosine and keeps the top 3. This
    * is the recall-repair composition every vector store ships (ADC ranks
    * are distorted by quantization; exact rerank of a small shortlist
    * restores them at negligible cost) — and the measurable difference
    * from [[annPq]] is precisely the rows where the exact rank disagrees
    * with the ADC rank.
    *
    * Scale shape: stage 1 is [[annPq]]'s map-only encode + broadcast-LUT
    * scoring with a WindowGroupLimit top-10; stage 2 fetches true
    * embeddings ONLY for shortlist rows — the corpus scan joins a
    * BROADCAST shortlist (|q|·R rows), so full vectors for the 100 TB
    * base side move only for candidates.
    */
  def annRerank(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val withDists = pqWithDists(pqCodebookOf(e)) _
    val enc = withDists(e.filter(col("vec_id") >= 8))
      .withColumn("code0", pqArgmin(0)).withColumn("code1", pqArgmin(1))
      .select(col("vec_id").as("n_id"), col("code0"), col("code1"))
    val lut = withDists(e.filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"),
        array((0 until 4).map(k => col(s"d0$k")): _*).as("lut0"),
        array((0 until 4).map(k => col(s"d1$k")): _*).as("lut1"))
    val shortlist = enc.crossJoin(broadcast(lut))
      .withColumn("adc", element_at(col("lut0"), col("code0") + 1)
        + element_at(col("lut1"), col("code1") + 1))
      .withColumn("rnk_pq", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))))
      .filter(col("rnk_pq") <= 10)
      .select("q_id", "n_id", "rnk_pq")
    val base = e.select(col("vec_id").as("n_id"),
      col("embedding").as("ne"), col("n2").as("nn2"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), col("n2").as("qn2"))
    base.join(broadcast(shortlist), "n_id")
      .join(broadcast(queries), "q_id")
      .withColumn("cos", cosine(dotDec(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "n_id", "rnk_pq", "rnk", "cos")
  }

  /** IVF-PQ (IVFADC without residual encoding): the coarse IVF quantizer
    * prunes candidates to the query's nprobe=2 nearest cells, and ranking
    * inside the probed cells runs on PQ codes via ADC — the classic
    * billion-scale ANN layout (coarse index bounds I/O, product codes
    * bound memory: 2 small ints per stored vector). Cells come from
    * [[annIvf]]'s centroid artifact (vec_id 8..15), codes from
    * [[annPq]]'s codebook (vec_id 8..11); both are inlined literals, so
    * BOTH cell assignment and encoding are pure scan-side map work — the
    * corpus never shuffles to build the index.
    *
    * The only join is stored-codes ⨝ broadcast(query probe LUTs) on the
    * cell key — candidates are strictly within probed cells, never the
    * corpus — and the top-5 rank is WindowGroupLimit-pruned map-side.
    * All quantities are exact integers (same fixed-point kernels), so
    * cell ids, codes, and ADC ranks replay bit-for-bit in the oracle.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    val withDists = pqWithDists(pqCodebookOf(e)) _
    val enc = withDists(e.filter(col("vec_id") >= 8))
      .withColumn("cell",
        -array_max(cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
      .withColumn("code0", pqArgmin(0)).withColumn("code1", pqArgmin(1))
      .select(col("cell"), col("vec_id").as("n_id"), col("code0"), col("code1"))
    val probes = withDists(e.filter(col("vec_id") < 8))
      .withColumn("probe", explode(
        slice(reverse(sort_array(cellScores(cents)(col("embedding"), col("n2")))), 1, 2)))
      .select((-col("probe.nid")).as("cell"), col("vec_id").as("q_id"),
        array((0 until 4).map(k => col(s"d0$k")): _*).as("lut0"),
        array((0 until 4).map(k => col(s"d1$k")): _*).as("lut1"))
    enc.join(broadcast(probes), Seq("cell"))
      .withColumn("adc", element_at(col("lut0"), col("code0") + 1)
        + element_at(col("lut1"), col("code1") + 1))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "n_id", "rnk", "cell", "code0", "code1", "adc")
  }

  /** Semantic-dedup cosine threshold: within-cluster pairs at or above it
    * are near-duplicates (SemDeDup keeps one representative per group).
    */
  val SemTau = 0.5

  /** Semantic deduplication (the SemDeDup recipe: Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the k-means artifact,
    * then inside each cluster drop every vector that has an earlier
    * (lower vec_id) near-duplicate at cosine ≥ [[SemTau]] — the
    * keep-one-representative rule made deterministic by ordering on
    * vec_id. Clustering is WHY this scales: candidate pairs exist only
    * within a cluster, never across the corpus, and oversized clusters
    * are capped at [[MaxBlock]] like every blocking key in the dedup
    * family (rows beyond the cap pass through as kept, with the cap
    * recorded in `capped` so an audit can count them).
    *
    * Shape: cell assignment is the same inlined-literal argmax as
    * [[annIvf]] (no shuffle), the pair join shuffles BOTH sides once on
    * the cell key (the same exchange the cap's rank window needs), and
    * the verdict is a left anti-style count join back on vec_id.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val cents = centroidsOf(e)
    val cells = e.filter(col("vec_id") >= 8)
      .withColumn("cell",
        -array_max(cellScores(cents)(col("embedding"), col("n2"))).getField("nid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy("vec_id")))
    val capped = cells.filter(col("rk") <= MaxBlock)
    val a = capped.select(col("cell"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("n2").as("na2"))
    val b = capped.select(col("cell"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("n2").as("nb2"))
    val dups = a.join(b, Seq("cell")).filter(col("va") < col("vb"))
      .withColumn("cos", cosine(dotDec(col("ea"), col("eb")), col("na2"), col("nb2")))
      .filter(col("cos") >= SemTau)
      .groupBy(col("vb").as("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    cells.select(col("vec_id"), col("cell"), (col("rk") > MaxBlock).as("capped"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("capped"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"),
        (coalesce(col("n_earlier_dups"), lit(0L)) === 0L).as("kept"))
  }

  /** Index evaluation — recall@3 of the multi-probe IVF against the exact
    * brute-force top-k, per query: the measurement loop any production ANN
    * deployment runs before trusting an index. Composes the two existing
    * operators; the intersect is a broadcast semi-join on (query,
    * neighbor) — both sides are k-row-per-query frames, never the corpus.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val ivf = annIvf(s, dir).select(col("q_id"), col("n_id"))
    val brute = annTopk(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
    val hits = brute.join(broadcast(ivf), Seq("q_id", "n_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    // query ids come from the (cheap) query side, NOT brute.distinct —
    // reusing `brute` twice would re-run the exact cross-join rerank
    withNorm(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id")).distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 3.0).as("recall_at_3"))
  }

  /** The shared CTE chain for the PCA oracles: moment matrix + 4 power-
    * iteration rounds named `wPfx`/`vPfx` over matrix CTE `mat`.
    */
  private def pcaRoundsSql(mat: String, wPfx: String, vPfx: String,
      scale: Long = 1000000L): String =
    (1 to 4).map { r =>
      s"""$wPfx$r AS (SELECT $mat.i AS i, CAST(sum($mat.s * ${vPfx}${r - 1}.v) AS HUGEINT) AS w
         |  FROM $mat JOIN ${vPfx}${r - 1} ON ${vPfx}${r - 1}.i = $mat.j GROUP BY 1),
         |$vPfx$r AS (SELECT i, CAST(sign(w) AS HUGEINT) *
         |    ((abs(w) * $scale) // greatest((SELECT max(abs(w)) FROM $wPfx$r), 1)) AS v
         |  FROM $wPfx$r)""".stripMargin
    }.mkString(",\n")

  private def pcaPrefixSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |px AS MATERIALIZED (SELECT ii.i AS i, jj.j AS j, CAST(sum(
       |      -- floor(x + 0.5), NOT round(x): the x_i·x_j product is 48
       |      -- significand bits, so ×1e9 is the one fixed-point landing
       |      -- here that is INEXACT in double and can sit exactly on a
       |      -- .5 boundary — Java Math.round (mom9) is floor(x+0.5)
       |      -- while DuckDB round() is half-away-from-zero, and they
       |      -- disagree at negative .5. floor(+0.5) replays the JVM rule
       |      -- bit-for-bit (same IEEE multiply, same IEEE add).
       |      CAST(floor((CAST(embedding[ii.i + 1] AS DOUBLE)
       |        * CAST(embedding[jj.j + 1] AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
       |    ) AS HUGEINT) AS s
       |  FROM e CROSS JOIN range(0, 64) ii(i) CROSS JOIN range(0, 64) jj(j)
       |  WHERE jj.j >= ii.i GROUP BY 1, 2),
       |m AS MATERIALIZED (SELECT i, j, s FROM px
       |  UNION ALL SELECT j, i, s FROM px WHERE i <> j),
       |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM range(0, 64) t(i)),
       |${pcaRoundsSql("m", "w", "v")}""".stripMargin

  /** DuckDB replay of [[embPca]]: the same moment matrix, the same 4
    * integer power-iteration rounds as chained CTEs, the same projection.
    */
  private def embPcaSql: String =
    s"""$pcaPrefixSql
       |SELECT e.vec_id, e.label, CAST(sum(
       |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1e9) AS BIGINT) * v4.v
       |  ) AS BIGINT) AS proj15
       |FROM e CROSS JOIN range(0, 64) t(i) JOIN v4 ON v4.i = t.i
       |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** DuckDB replay of [[embPca2]]: the [[embPcaSql]] chain, then the
    * exact-integer Hotelling deflation (v₁' = v₁ div 1000, S₂ = S·d² −
    * n·v₁'v₁'ᵀ) and 4 more rounds over S₂, projecting onto both.
    */
  private def embPca2Sql: String =
    s"""$pcaPrefixSql,
       |v1s AS (SELECT i, CAST(sign(v) AS HUGEINT) * (abs(v) // 1000) AS v
       |  FROM v4),
       |d1 AS (SELECT greatest(CAST(sum(v * v) AS HUGEINT), 1) AS d FROM v1s),
       |sv AS (SELECT m.i AS i, CAST(sum(m.s * v1s.v) AS HUGEINT) AS w
       |  FROM m JOIN v1s ON v1s.i = m.j GROUP BY 1),
       |n1 AS (SELECT CAST(sum(a.v * sv.w) AS HUGEINT) AS n
       |  FROM v1s a JOIN sv ON sv.i = a.i),
       |m2 AS MATERIALIZED (SELECT m.i AS i, m.j AS j,
       |    m.s * d1.d * d1.d - n1.n * a.v * b.v AS s
       |  FROM m JOIN v1s a ON a.i = m.i JOIN v1s b ON b.i = m.j, d1, n1),
       |u0 AS (SELECT i, CAST(1000 AS HUGEINT) AS v FROM range(0, 64) t(i)),
       |${pcaRoundsSql("m2", "y", "u", 1000L)}
       |SELECT e.vec_id, e.label,
       |  CAST(sum(
       |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1e9) AS BIGINT) * v4.v
       |  ) AS BIGINT) AS proj15,
       |  CAST(sum(
       |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1e9) AS BIGINT) * u4.v
       |  ) AS BIGINT) AS proj2_15
       |FROM e CROSS JOIN range(0, 64) t(i)
       |  JOIN v4 ON v4.i = t.i JOIN u4 ON u4.i = t.i
       |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall" -> (annRecall _),
    "ann_nprobe" -> (annNprobe _),
    "ann_filtered" -> (annFiltered _),
    "dedup_embedding" -> (dedupEmbedding _),
    "emb_kmeans" -> (embKmeans _),
    "emb_pca" -> (embPca _),
    "emb_quantize" -> (embQuantize _),
    "emb_pca2" -> (embPca2 _),
    "emb_outliers" -> (embOutliers _),
    "emb_stats" -> (embStats _),
    "emb_drift" -> (embDrift _),
    "ann_topk" -> (annTopk _),
    "ann_hamming" -> (annHamming _),
    "ann_mips" -> (annMips _),
    "ann_hardneg" -> (annHardneg _),
    "emb_mmr" -> (embMmr _),
    "ann_hybrid" -> (annHybrid _),
    "ann_range" -> (annRange _),
    "ann_lsh" -> (annLsh _),
    "ann_lsh_mp" -> (annLshMp _),
    "ann_ivf" -> (annIvf _),
    "ann_cell_stats" -> (annCellStats _),
    "ann_pq" -> (annPq _),
    "ann_rerank" -> (annRerank _),
    "ann_ivfpq" -> (annIvfPq _),
    "dedup_semantic" -> (dedupSemantic _),
    "ann_ivf_store" -> (IvfIndex.annIvfStore _))

  /** Flattened embeddings + exact decimal dot products, shared by the
    * oracle queries.
    */
  /** DuckDB replay of emb_mmr: the greedy recurrence unrolled as four
    * chained round CTEs (the dpLevelSql discipline) — per round, the
    * max-sim-to-selected aggregate and the λ-scored argmax with the
    * identical double arithmetic and (score DESC, n_id) tiebreak.
    */
  private lazy val mmrOracleSql: String = {
    val rounds = (2 to 5).map { r =>
      s"""ms$r AS (SELECT c.q_id, c.n_id, c.rel, max(p.sim) AS msim
         |  FROM cand c
         |  JOIN pairs p ON p.pq = c.q_id AND p.a = c.n_id
         |  JOIN sel${r - 1} s ON s.q_id = p.pq AND s.n_id = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
         |                    WHERE x.q_id = c.q_id AND x.n_id = c.n_id)
         |  GROUP BY 1, 2, 3),
         |pick$r AS (SELECT q_id, n_id, $r AS mmr_rank,
         |    0.7 * rel - 0.3 * msim AS score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY 0.7 * rel - 0.3 * msim DESC, n_id) AS rn FROM ms$r) t
         |  WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
         |  SELECT q_id, n_id, mmr_rank, score FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $flatSql,
       |dots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
       |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
       |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
       |  GROUP BY 1, 2),
       |scored AS (SELECT q_id, n_id,
       |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS rel
       |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
       |cand AS MATERIALIZED (SELECT q_id, n_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id) AS rnk FROM scored) t WHERE rnk <= 10),
       |cids AS (SELECT DISTINCT n_id FROM cand),
       |pdots AS (SELECT a.vec_id AS a, b.vec_id AS b,
       |    sum(CAST(round(a.e * b.e * 1000000000.0) AS BIGINT)) AS dot
       |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
       |  JOIN cids ca ON ca.n_id = a.vec_id
       |  JOIN cids cb ON cb.n_id = b.vec_id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (SELECT c1.q_id AS pq, c1.n_id AS a, c2.n_id AS b,
       |    (d.dot / 1e9) / (sqrt(n1.n2 / 1e9) * sqrt(n2.n2 / 1e9)) AS sim
       |  FROM cand c1 JOIN cand c2 ON c2.q_id = c1.q_id AND c2.n_id <> c1.n_id
       |  JOIN pdots d ON d.a = c1.n_id AND d.b = c2.n_id
       |  JOIN norm n1 ON n1.vec_id = c1.n_id JOIN norm n2 ON n2.vec_id = c2.n_id),
       |sel1 AS (SELECT q_id, n_id, 1 AS mmr_rank, 0.7 * rel AS score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id) AS rn FROM cand) t WHERE rn = 1),
       |$rounds
       |SELECT q_id, n_id, CAST(mmr_rank AS INT) AS mmr_rank, score
       |FROM sel5 ORDER BY q_id, mmr_rank""".stripMargin
  }

  private val flatSql =
    """flat AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS e
      |  FROM embeddings, range(1, 65) r(i)),
      |norm AS (SELECT vec_id, sum(CAST(round(e * e * 1000000000.0) AS BIGINT)) AS n2
      |  FROM flat GROUP BY vec_id)""".stripMargin

  /** Nearest-centroid cell assignment for base vectors (vec_id ≥ 8) —
    * shared by the `ann_ivf` and `emb_kmeans` oracles.
    */
  private val cellsSql =
    """cdots AS (SELECT v.vec_id, c.vec_id AS c_id,
      |    sum(CAST(round(v.e * c.e * 1000000000.0) AS BIGINT)) AS dot
      |  FROM flat v JOIN flat c ON c.i = v.i AND c.vec_id BETWEEN 8 AND 15
      |  GROUP BY 1, 2),
      |cscored AS (SELECT cdots.vec_id AS vec_id, c_id,
      |    (dot / 1e9) / (sqrt(nv.n2 / 1e9) * sqrt(nc.n2 / 1e9)) AS ccos
      |  FROM cdots JOIN norm nv ON nv.vec_id = cdots.vec_id
      |             JOIN norm nc ON nc.vec_id = c_id),
      |cranked AS (SELECT vec_id, c_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS crk
      |  FROM cscored),
      |cells AS (SELECT vec_id AS n_id, c_id AS cell FROM cranked
      |  WHERE crk = 1 AND vec_id >= 8)""".stripMargin

  /** IVF probe oracle — shared verbatim by `ann_ivf` (inline) and
    * `ann_ivf_store` (persisted artifact): both must produce it exactly.
    */
  private val ivfSql =
    s"""WITH $flatSql,
       |$cellsSql,
       |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM cranked
       |  WHERE crk <= 2 AND vec_id < 8),
       |dots AS (SELECT p.q_id, ce.n_id, ce.cell,
       |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
       |  FROM probes p JOIN cells ce ON ce.cell = p.cell
       |       JOIN flat q ON q.vec_id = p.q_id
       |       JOIN flat b ON b.vec_id = ce.n_id AND b.i = q.i
       |  GROUP BY 1, 2, 3),
       |scored AS (SELECT q_id, n_id, cell,
       |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
       |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
       |ranked AS (SELECT q_id, n_id, cell, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, rnk, CAST(cell AS BIGINT) AS cell, cos
       |FROM ranked WHERE rnk <= 3
       |ORDER BY q_id, rnk""".stripMargin

  val oracles: Map[String, String] = Map(
    "emb_pca" -> embPcaSql,
    "emb_quantize" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, label, t.i AS dim,
        |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1e9) AS BIGINT) AS x9
        |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
        |st AS (SELECT dim, min(x9) AS min9, max(x9) AS max9 FROM ex GROUP BY 1),
        |qq AS (SELECT vec_id, label,
        |    ((x9 - min9) * 255) // greatest(max9 - min9, 1) AS q,
        |    abs(x9 - (min9 + ((((x9 - min9) * 255) // greatest(max9 - min9, 1))
        |      * greatest(max9 - min9, 1)) // 255)) AS err9
        |  FROM ex JOIN st USING (dim))
        |SELECT vec_id, label, CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(max(err9) AS BIGINT) AS max_err9,
        |  CAST(sum(err9) AS BIGINT) AS sum_err9
        |FROM qq GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,
    "emb_pca2" -> embPca2Sql,
    "emb_drift" ->
      """WITH f AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS v6
        |  FROM embeddings, range(1, 65) r(i)),
        |m AS (SELECT (max(vec_id) + 1) // 2 AS mid FROM embeddings),
        |g AS (SELECT dim,
        |    CAST(sum(CASE WHEN vec_id < m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN vec_id >= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN vec_id < m.mid THEN v6 ELSE 0 END) AS BIGINT)
        |      AS sum_a6,
        |    CAST(sum(CASE WHEN vec_id >= m.mid THEN v6 ELSE 0 END) AS BIGINT)
        |      AS sum_b6,
        |    CAST(sum(CASE WHEN vec_id < m.mid THEN v6 * v6 ELSE 0 END)
        |      AS BIGINT) AS ssq_a6,
        |    CAST(sum(CASE WHEN vec_id >= m.mid THEN v6 * v6 ELSE 0 END)
        |      AS BIGINT) AS ssq_b6
        |  FROM f, m GROUP BY 1)
        |SELECT dim, n_a, n_b, sum_a6, sum_b6, ssq_a6, ssq_b6,
        |  abs(sum_a6 * n_b - sum_b6 * n_a) * 20 > n_a * n_b * 1000000
        |    AS drift
        |FROM g ORDER BY dim""".stripMargin,
    "emb_outliers" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |asg AS (SELECT cr.vec_id, cr.c_id AS cell,
         |    CAST(round(cs.ccos * 1000000.0) AS BIGINT) AS cos6
         |  FROM cranked cr JOIN cscored cs
         |    ON cs.vec_id = cr.vec_id AND cs.c_id = cr.c_id
         |  WHERE cr.crk = 1 AND cr.vec_id >= 8),
         |stats AS (SELECT cell, CAST(sum(cos6) AS BIGINT) AS sum6,
         |    CAST(count(*) AS BIGINT) AS cell_n
         |  FROM asg GROUP BY 1)
         |SELECT a.vec_id, a.cell, a.cos6, s.cell_n,
         |  10 * s.cell_n * a.cos6 < 9 * s.sum6 AS is_outlier
         |FROM asg a JOIN stats s ON s.cell = a.cell
         |ORDER BY a.vec_id""".stripMargin,
    "emb_stats" ->
      """WITH ex AS (SELECT CAST(t.i AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS x6
        |  FROM embeddings CROSS JOIN range(0, 64) t(i)),
        |b AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x6) AS BIGINT) AS sx,
        |    sum(CAST(x6 AS HUGEINT) * CAST(x6 AS HUGEINT)) AS sxx
        |  FROM ex GROUP BY 1),
        |v AS (SELECT dim, n, sx // n AS mean6,
        |    CAST((CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
        |         // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT) AS varr
        |  FROM b),
        |s AS (SELECT dim, n, mean6, varr,
        |    CAST(floor(sqrt(CAST(varr AS DOUBLE))) AS BIGINT) AS s0 FROM v),
        |g AS (SELECT dim, n, mean6,
        |    s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= varr THEN 1 ELSE 0 END)
        |       - (CASE WHEN s0 * s0 > varr THEN 1 ELSE 0 END) AS sigma6
        |  FROM s)
        |SELECT g.dim, g.n, g.mean6, g.sigma6,
        |  CAST(sum(CASE WHEN abs(x6 - mean6) > 4 * sigma6 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out4
        |FROM g JOIN ex ON ex.dim = g.dim
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    "emb_kmeans" ->
      s"""WITH $flatSql,
         |$cellsSql
         |SELECT CAST(ce.cell AS BIGINT) AS cell, CAST(f.i AS INT) AS i,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(round(f.e * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum9
         |FROM cells ce JOIN flat f ON f.vec_id = ce.n_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $flatSql,
         |capped AS (SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
         |    FROM embeddings) WHERE rk <= $MaxBlock),
         |dots AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.label,
         |    sum(CAST(round(a.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM capped)
         |    AND b.vec_id IN (SELECT vec_id FROM capped)
         |  GROUP BY 1, 2, 3)
         |SELECT va, vb, label,
         |  (dot / 1e9) / (sqrt(na.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |FROM dots JOIN norm na ON na.vec_id = va JOIN norm nb ON nb.vec_id = vb
         |WHERE (dot / 1e9) / (sqrt(na.n2 / 1e9) * sqrt(nb.n2 / 1e9)) >= 0.3
         |ORDER BY va, vb""".stripMargin,
    "ann_lsh" ->
      s"""WITH $flatSql,
         |pdots AS (SELECT f.vec_id, p.range AS p,
         |    sum(CAST(round(f.e * ((f.i * (p.range + 3) * 2654435761) % 2001 - 1000)
         |                   * 1000000000.0) AS BIGINT)) AS d
         |  FROM flat f, range(0, 8) p
         |  GROUP BY 1, 2),
         |buckets AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
         |  FROM pdots GROUP BY 1),
         |dots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id, qb.bucket,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN buckets qb ON qb.vec_id = q.vec_id
         |       JOIN buckets bb ON bb.bucket = qb.bucket
         |       JOIN flat b ON b.vec_id = bb.vec_id AND b.i = q.i
         |  WHERE q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2, 3),
         |scored AS (SELECT q_id, n_id, bucket,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |ranked AS (SELECT q_id, n_id, bucket, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, rnk, bucket, cos FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,
    "ann_lsh_mp" ->
      s"""WITH $flatSql,
         |pdots AS (SELECT f.vec_id, p.range AS p,
         |    sum(CAST(round(f.e * ((f.i * (p.range + 3) * 2654435761) % 2001 - 1000)
         |                   * 1000000000.0) AS BIGINT)) AS d
         |  FROM flat f, range(0, 8) p
         |  GROUP BY 1, 2),
         |buckets AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
         |  FROM pdots GROUP BY 1),
         |flips AS (SELECT vec_id, p,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY abs(d), p) AS mr
         |  FROM pdots),
         |probes AS (SELECT b.vec_id AS q_id, b.bucket AS home, b.bucket AS probe
         |    FROM buckets b WHERE b.vec_id < 8
         |  UNION ALL
         |  SELECT b.vec_id, b.bucket, CAST(xor(b.bucket, 1 << f.p) AS INT)
         |    FROM buckets b JOIN flips f ON f.vec_id = b.vec_id AND f.mr <= 2
         |    WHERE b.vec_id < 8),
         |dots AS (SELECT pr.q_id, b.vec_id AS n_id, pr.home, bb.bucket,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM probes pr
         |  JOIN buckets bb ON bb.bucket = pr.probe
         |  JOIN flat b ON b.vec_id = bb.vec_id
         |  JOIN flat q ON q.vec_id = pr.q_id AND q.i = b.i
         |  WHERE bb.vec_id >= 8
         |  GROUP BY 1, 2, 3, 4),
         |scored AS (SELECT q_id, n_id, home, bucket,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |ranked AS (SELECT q_id, n_id, home, bucket, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, rnk, cos, bucket <> home AS from_flip
         |FROM ranked WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "ann_ivf" -> ivfSql,
    "ann_cell_stats" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(n.n2) AS BIGINT) AS sum_n2
         |  FROM cells JOIN norm n ON n.vec_id = cells.n_id GROUP BY 1)
         |SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
         |  CAST((1000 * n_vecs) // (sum(n_vecs) OVER ()) AS BIGINT)
         |    AS share_pm,
         |  sum_n2,
         |  (1000 * n_vecs) // (sum(n_vecs) OVER ()) >= 250 AS hot
         |FROM g ORDER BY cell""".stripMargin,
    "ann_filtered" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM cranked
         |  WHERE crk <= 4 AND vec_id < 8),
         |dots AS (SELECT p.q_id, ce.n_id, ce.cell, any_value(q.label) AS label,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM probes p JOIN cells ce ON ce.cell = p.cell
         |       JOIN flat q ON q.vec_id = p.q_id
         |       JOIN flat b ON b.vec_id = ce.n_id AND b.i = q.i
         |         AND b.label = q.label
         |  GROUP BY 1, 2, 3),
         |scored AS (SELECT q_id, n_id, cell, label,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm nb ON nb.vec_id = n_id),
         |ranked AS (SELECT q_id, n_id, cell, label, cos,
         |    CAST(count(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_cand,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, label, n_id, rnk, CAST(cell AS BIGINT) AS cell, cos, n_cand
         |FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,
    // the persisted-index probe serves byte-identical results to the
    // inline IVF: same codebook, same cells, same rerank
    "ann_ivf_store" -> ivfSql,
    "ann_nprobe" -> {
      val levels = Seq(1, 2, 4)
      val lvlCtes = levels.map { p =>
        s"""lvl$p AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY cos DESC, n_id) AS rnk
           |    FROM cscored2 WHERE crk <= $p) t WHERE rnk <= 3),
           |hit$p AS (SELECT count(*) AS n_hits
           |  FROM lvl$p JOIN btop USING (q_id, n_id))""".stripMargin
      }.mkString(",\n")
      val union = levels.map(p =>
        s"SELECT $p AS np, n_hits FROM hit$p").mkString("\n  UNION ALL ")
      s"""WITH $flatSql,
         |$cellsSql,
         |probes AS (SELECT vec_id AS q_id, c_id AS cell, crk FROM cranked
         |  WHERE crk <= 4 AND vec_id < 8),
         |cdots2 AS (SELECT p.q_id, ce.n_id, p.crk,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM probes p JOIN cells ce ON ce.cell = p.cell
         |       JOIN flat q ON q.vec_id = p.q_id
         |       JOIN flat b ON b.vec_id = ce.n_id AND b.i = q.i
         |  GROUP BY 1, 2, 3),
         |cscored2 AS (SELECT q_id, n_id, crk,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM cdots2 JOIN norm nq ON nq.vec_id = q_id
         |              JOIN norm nb ON nb.vec_id = n_id),
         |bdots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2),
         |branked AS (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) DESC, n_id) AS rnk
         |  FROM bdots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |btop AS MATERIALIZED (SELECT q_id, n_id FROM branked WHERE rnk <= 3),
         |$lvlCtes
         |SELECT CAST(np AS BIGINT) AS nprobe, n_hits,
         |  (SELECT count(*) FROM btop) AS n_truth,
         |  CAST((1000 * n_hits) // (SELECT count(*) FROM btop) AS BIGINT)
         |    AS recall_pm
         |FROM ($union) ORDER BY np""".stripMargin
    },
    "ann_recall" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM cranked
         |  WHERE crk <= 2 AND vec_id < 8),
         |idots AS (SELECT p.q_id, ce.n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM probes p JOIN cells ce ON ce.cell = p.cell
         |       JOIN flat q ON q.vec_id = p.q_id
         |       JOIN flat b ON b.vec_id = ce.n_id AND b.i = q.i
         |  GROUP BY 1, 2),
         |iranked AS (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) DESC, n_id) AS rnk
         |  FROM idots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |bdots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2),
         |branked AS (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) DESC, n_id) AS rnk
         |  FROM bdots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |hits AS (SELECT b.q_id, count(*) AS n_hits
         |  FROM branked b JOIN iranked i
         |    ON i.q_id = b.q_id AND i.n_id = b.n_id AND i.rnk <= 3
         |  WHERE b.rnk <= 3 GROUP BY 1),
         |qs AS (SELECT DISTINCT vec_id AS q_id FROM embeddings WHERE vec_id < 8)
         |SELECT qs.q_id,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(n_hits, 0) / 3.0 AS recall_at_3
         |FROM qs LEFT JOIN hits ON hits.q_id = qs.q_id
         |ORDER BY qs.q_id""".stripMargin,
    "ann_range" ->
      s"""WITH $flatSql,
         |dots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2)
         |SELECT q_id, n_id,
         |  (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id
         |WHERE (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) >= 0.25""".stripMargin,
    "ann_hamming" ->
      s"""WITH $flatSql,
         |sig AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN e <= 0 THEN 0
         |             WHEN i = 64 THEN -9223372036854775807 - 1
         |             ELSE 1::BIGINT << (i - 1) END) AS BIGINT) AS sig
         |  FROM flat GROUP BY 1),
         |ranked AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    CAST(bit_count(xor(q.sig, b.sig)) AS BIGINT) AS hamming,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY bit_count(xor(q.sig, b.sig)), b.vec_id) AS rnk
         |  FROM sig q JOIN sig b ON q.vec_id < 8 AND b.vec_id >= 8)
         |SELECT q_id, n_id, rnk, hamming
         |FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "ann_topk" ->
      s"""WITH $flatSql,
         |dots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2),
         |scored AS (SELECT q_id, n_id,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, rnk, cos FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "ann_mips" ->
      s"""WITH $flatSql,
         |dots AS (SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |    CAST(sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS BIGINT) AS dot_fix
         |  FROM flat q JOIN flat b ON q.i = b.i AND q.vec_id < 8 AND b.vec_id >= 8
         |  GROUP BY 1, 2),
         |ranked AS (SELECT q_id, n_id, dot_fix,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dot_fix DESC, n_id) AS rnk
         |  FROM dots)
         |SELECT q_id, n_id, rnk, dot_fix FROM ranked WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,
    "ann_hardneg" ->
      s"""WITH $flatSql,
         |dots AS (SELECT q.vec_id AS q_id, q.label AS q_label,
         |    b.vec_id AS n_id, b.label AS n_label,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat q JOIN flat b ON q.i = b.i
         |    AND q.vec_id < 8 AND b.vec_id >= 8 AND q.label <> b.label
         |  GROUP BY 1, 2, 3, 4),
         |scored AS (SELECT q_id, q_label, n_id, n_label,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |ranked AS (SELECT q_id, q_label, n_id, n_label, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, q_label, n_id, n_label, CAST(rnk AS INT) AS rnk, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "emb_mmr" -> mmrOracleSql,
    // the semantic side replays the 16-cell IVF assignment (the
    // cellsSql discipline with the hybrid's own 8..23 codebook and the
    // %101 corpus/query split)
    "ann_hybrid" ->
      s"""WITH $flatSql,
         |hcdots AS (SELECT v.vec_id, c.vec_id AS c_id,
         |    sum(CAST(round(v.e * c.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM flat v JOIN flat c ON c.i = v.i AND c.vec_id BETWEEN 8 AND 23
         |  GROUP BY 1, 2),
         |hcscored AS (SELECT hcdots.vec_id AS vec_id, c_id,
         |    (dot / 1e9) / (sqrt(nv.n2 / 1e9) * sqrt(nc.n2 / 1e9)) AS ccos
         |  FROM hcdots JOIN norm nv ON nv.vec_id = hcdots.vec_id
         |              JOIN norm nc ON nc.vec_id = c_id),
         |hcranked AS (SELECT vec_id, c_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, c_id) AS crk
         |  FROM hcscored),
         |hcells AS (SELECT vec_id AS n_id, c_id AS cell FROM hcranked
         |  WHERE crk = 1 AND vec_id % 101 <> 0),
         |hprobes AS (SELECT vec_id AS q_id, c_id AS cell FROM hcranked
         |  WHERE crk <= 2 AND vec_id % 101 = 0),
         |lex AS (SELECT query_id, doc_id, rk AS lex_rk
         |  FROM (${TextOps.bm25Sql})),
         |dots AS (SELECT p.q_id, ce.n_id,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM hprobes p JOIN hcells ce ON ce.cell = p.cell
         |       JOIN flat q ON q.vec_id = p.q_id
         |       JOIN flat b ON b.vec_id = ce.n_id AND b.i = q.i
         |  GROUP BY 1, 2),
         |scored AS (SELECT q_id, n_id,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id JOIN norm nb ON nb.vec_id = n_id),
         |sem AS (SELECT q_id, n_id, sem_rk FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, n_id) AS sem_rk
         |    FROM scored) t WHERE sem_rk <= 5),
         |fused AS (SELECT qid AS query_id, did AS doc_id,
         |    max(lex_rk) AS lex_rk, max(sem_rk) AS sem_rk,
         |    CAST(CASE WHEN max(lex_rk) = 0 THEN 0
         |         ELSE 1000000 // (60 + max(lex_rk)) END
         |       + CASE WHEN max(sem_rk) = 0 THEN 0
         |         ELSE 1000000 // (60 + max(sem_rk)) END AS BIGINT) AS rrf6
         |  FROM (SELECT query_id AS qid, doc_id AS did, lex_rk, 0 AS sem_rk FROM lex
         |        UNION ALL
         |        SELECT q_id, n_id, 0, sem_rk FROM sem)
         |  GROUP BY 1, 2)
         |SELECT query_id, doc_id, rrf6, CAST(frank AS INT) AS frank,
         |  CAST(lex_rk AS INT) AS lex_rk, CAST(sem_rk AS INT) AS sem_rk
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf6 DESC, doc_id) AS frank
         |  FROM fused) f
         |WHERE frank <= 5 ORDER BY query_id, frank""".stripMargin,
    "ann_rerank" ->
      s"""WITH $flatSql,
         |sub AS (SELECT vec_id, CASE WHEN i <= 32 THEN 0 ELSE 1 END AS m,
         |    CASE WHEN i <= 32 THEN i ELSE i - 32 END AS j, e FROM flat),
         |cw AS (SELECT CAST(vec_id - 8 AS INT) AS k, m, j, e FROM sub
         |  WHERE vec_id BETWEEN 8 AND 11),
         |d AS (SELECT s.vec_id, s.m, c.k,
         |    sum(CAST(round(s.e * s.e * 1000000000.0) AS BIGINT)
         |      + CAST(round(c.e * c.e * 1000000000.0) AS BIGINT)
         |      - 2 * CAST(round(s.e * c.e * 1000000000.0) AS BIGINT)) AS l2fix
         |  FROM sub s JOIN cw c ON c.m = s.m AND c.j = s.j
         |  GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY l2fix, k) AS rk
         |    FROM d WHERE vec_id >= 8) WHERE rk = 1),
         |adc AS (SELECT dq.vec_id AS q_id, c.vec_id AS n_id,
         |    CAST(sum(dq.l2fix) AS BIGINT) AS adc
         |  FROM codes c JOIN d dq ON dq.m = c.m AND dq.k = c.k
         |  WHERE dq.vec_id < 8 GROUP BY 1, 2),
         |short AS (SELECT q_id, n_id, rnk_pq FROM (
         |    SELECT q_id, n_id,
         |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS INT) AS rnk_pq
         |    FROM adc) WHERE rnk_pq <= 10),
         |dots AS (SELECT s.q_id, s.n_id, s.rnk_pq,
         |    sum(CAST(round(q.e * b.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM short s JOIN flat q ON q.vec_id = s.q_id
         |       JOIN flat b ON b.vec_id = s.n_id AND b.i = q.i
         |  GROUP BY 1, 2, 3),
         |scored AS (SELECT q_id, n_id, rnk_pq,
         |    (dot / 1e9) / (sqrt(nq.n2 / 1e9) * sqrt(nb.n2 / 1e9)) AS cos
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm nb ON nb.vec_id = n_id),
         |r2 AS (SELECT q_id, n_id, rnk_pq, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |SELECT q_id, n_id, rnk_pq, CAST(rnk AS INT) AS rnk, cos
         |FROM r2 WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "ann_pq" ->
      s"""WITH $flatSql,
         |sub AS (SELECT vec_id, CASE WHEN i <= 32 THEN 0 ELSE 1 END AS m,
         |    CASE WHEN i <= 32 THEN i ELSE i - 32 END AS j, e FROM flat),
         |cw AS (SELECT CAST(vec_id - 8 AS INT) AS k, m, j, e FROM sub
         |  WHERE vec_id BETWEEN 8 AND 11),
         |d AS (SELECT s.vec_id, s.m, c.k,
         |    sum(CAST(round(s.e * s.e * 1000000000.0) AS BIGINT)
         |      + CAST(round(c.e * c.e * 1000000000.0) AS BIGINT)
         |      - 2 * CAST(round(s.e * c.e * 1000000000.0) AS BIGINT)) AS l2fix
         |  FROM sub s JOIN cw c ON c.m = s.m AND c.j = s.j
         |  GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY l2fix, k) AS rk
         |    FROM d WHERE vec_id >= 8) WHERE rk = 1),
         |wide AS (SELECT vec_id AS n_id,
         |    CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS code0,
         |    CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS code1
         |  FROM codes GROUP BY 1),
         |adc AS (SELECT dq.vec_id AS q_id, c.vec_id AS n_id,
         |    CAST(sum(dq.l2fix) AS BIGINT) AS adc
         |  FROM codes c JOIN d dq ON dq.m = c.m AND dq.k = c.k
         |  WHERE dq.vec_id < 8 GROUP BY 1, 2),
         |ranked AS (SELECT q_id, n_id, adc,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc)
         |SELECT q_id, r.n_id, CAST(rnk AS INT) AS rnk, code0, code1, adc
         |FROM ranked r JOIN wide w ON w.n_id = r.n_id
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "ann_ivfpq" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM cranked
         |  WHERE crk <= 2 AND vec_id < 8),
         |sub AS (SELECT vec_id, CASE WHEN i <= 32 THEN 0 ELSE 1 END AS m,
         |    CASE WHEN i <= 32 THEN i ELSE i - 32 END AS j, e FROM flat),
         |cw AS (SELECT CAST(vec_id - 8 AS INT) AS k, m, j, e FROM sub
         |  WHERE vec_id BETWEEN 8 AND 11),
         |d AS (SELECT s.vec_id, s.m, c.k,
         |    sum(CAST(round(s.e * s.e * 1000000000.0) AS BIGINT)
         |      + CAST(round(c.e * c.e * 1000000000.0) AS BIGINT)
         |      - 2 * CAST(round(s.e * c.e * 1000000000.0) AS BIGINT)) AS l2fix
         |  FROM sub s JOIN cw c ON c.m = s.m AND c.j = s.j
         |  GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY l2fix, k) AS rk
         |    FROM d WHERE vec_id >= 8) WHERE rk = 1),
         |wide AS (SELECT vec_id AS n_id,
         |    CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS code0,
         |    CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS code1
         |  FROM codes GROUP BY 1),
         |adc AS (SELECT p.q_id, ce.n_id, ce.cell,
         |    CAST(sum(dq.l2fix) AS BIGINT) AS adc
         |  FROM probes p JOIN cells ce ON ce.cell = p.cell
         |       JOIN codes c ON c.vec_id = ce.n_id
         |       JOIN d dq ON dq.m = c.m AND dq.k = c.k AND dq.vec_id = p.q_id
         |  GROUP BY 1, 2, 3),
         |ranked AS (SELECT q_id, n_id, cell, adc,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rnk
         |  FROM adc)
         |SELECT q_id, r.n_id, CAST(rnk AS INT) AS rnk,
         |  CAST(cell AS BIGINT) AS cell, code0, code1, adc
         |FROM ranked r JOIN wide w ON w.n_id = r.n_id
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $flatSql,
         |$cellsSql,
         |rcell AS (SELECT n_id AS vec_id, cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY n_id) AS rk
         |  FROM cells),
         |cap AS (SELECT vec_id, cell FROM rcell WHERE rk <= $MaxBlock),
         |pdots AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    sum(CAST(round(fa.e * fb.e * 1000000000.0) AS BIGINT)) AS dot
         |  FROM cap a JOIN cap b ON b.cell = a.cell AND a.vec_id < b.vec_id
         |       JOIN flat fa ON fa.vec_id = a.vec_id
         |       JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
         |  GROUP BY 1, 2),
         |dups AS (SELECT vb AS vec_id, count(*) AS n_earlier_dups
         |  FROM pdots JOIN norm na ON na.vec_id = va
         |       JOIN norm nb ON nb.vec_id = vb
         |  WHERE (dot / 1e9) / (sqrt(na.n2 / 1e9) * sqrt(nb.n2 / 1e9)) >= $SemTau
         |  GROUP BY 1)
         |SELECT rc.vec_id, CAST(rc.cell AS BIGINT) AS cell,
         |  rc.rk > $MaxBlock AS capped,
         |  CAST(coalesce(d.n_earlier_dups, 0) AS BIGINT) AS n_earlier_dups,
         |  coalesce(d.n_earlier_dups, 0) = 0 AS kept
         |FROM rcell rc LEFT JOIN dups d ON d.vec_id = rc.vec_id
         |ORDER BY rc.vec_id""".stripMargin)
}
