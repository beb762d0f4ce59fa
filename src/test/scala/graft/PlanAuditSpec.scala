package graft

/** Plan-quality regression guard: every SparkEntry query must keep the
  * plan shape the scale design promises — no cartesian products, no
  * accidental nested-loop joins (the brute-force ANN baseline is the one
  * intentional broadcast crossJoin), and no scan that fails to push its
  * filters.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val plans: Map[String, String] = {
    // pin each operator's OWN plan shape: the small-scan parallelize hook
    // (Tables.parallelize) is input-layout plumbing that is a no-op at
    // cluster scale, so shapes are asserted with it off — otherwise every
    // exchange-count pin would count the hook's local exchange too
    val prior = spark.conf.getOption("spark.graft.parallelizeSmallScans")
    spark.conf.set("spark.graft.parallelizeSmallScans", "false")
    try SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.parallelizeSmallScans", v)
      case None => spark.conf.unset("spark.graft.parallelizeSmallScans")
    }
  }

  test("no cartesian products anywhere") {
    for ((name, plan) <- plans)
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
  }

  test("nested-loop joins only where intended (ann_topk brute-force baseline)") {
    // ann_recall embeds ann_topk (it measures the IVF against it), so it
    // inherits the one intentional broadcast crossJoin; ann_pq's ADC scan
    // is the same shape — codes against the broadcast 8-row query LUT
    // graph_pagerank's one NLJ is the 1-row node-count aggregate
    // broadcast-crossed onto the degree table — a scalar bind, not a
    // pair explosion
    // ann_range: the radius variant of the same brute-force broadcast scan
    // ann_mips: the inner-product variant of the same scan
    // q22_anti_scalar / text_lm_bucket: 1-row scalar-aggregate broadcast
    // binds (threshold / tercile cuts), not pair explosions
    // evt_rfm: four 1-row scalar binds (anchor + three tercile cut pairs)
    // ann_hybrid: the cosine branch is the same brute-force broadcast scan
    // evt_ab_test: the 1-row cohort-size scalar bind
    // ann_hardneg: the label-filtered variant of the same brute scan
    // emb_mmr: candidate harvest is the same brute scan
    // evt_lift: the 1-row session-count scalar bind
    // q26_ntile: the 1-row global-count scalar bind (ntile remainder)
    // geo_hotspot: the 1-row global point-count scalar bind
    // ann_hamming: the binary-signature variant of the same brute
    //   broadcast scan (8-byte sigs — the compression is the operator)
    val intended = Set("ann_topk", "ann_range", "ann_mips", "ann_recall", "ann_pq",
      "graph_pagerank", "q22_anti_scalar", "text_lm_bucket", "evt_rfm",
      "ann_hybrid", "evt_ab_test", "ann_hardneg", "emb_mmr", "evt_lift",
      "q26_ntile", "geo_hotspot", "ann_hamming",
      // graph_lpa: the 1-row edge-count scalar bind (modularity numerator)
      "graph_lpa",
      // evt_markov: the 1-row type-count scalar bind (uniform v0)
      "evt_markov",
      // emb_drift: the 1-row midpoint scalar bind (the half split)
      "emb_drift",
      // pipe_validate: the 1x1 metrics-x-orphans bind
      "pipe_validate",
      // ann_nprobe: inherits the brute-truth broadcast crossJoin + the
      // 1-row truth-count scalar bind
      "ann_nprobe",
      // evt_survival: the 1-row corpus-end scalar bind (censor anchor)
      "evt_survival",
      // graph_ppr: the 1-row seed-count scalar bind (teleport mass)
      "graph_ppr",
      // ann_rerank: stage 1 is ann_pq's broadcast 8-row query-LUT scan
      "ann_rerank",
      // text_kn_lm: the 1-row bigram-type-total scalar bind
      "text_kn_lm",
      // q38_assoc: the 1-row basket-total scalar bind
      "q38_assoc")
    for ((name, plan) <- plans if !intended(name))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
  }

  test("every parquet scan pushes its filters") {
    for ((name, plan) <- plans)
      assert(!plan.contains("PushedFilters: []"),
        s"$name has a scan with unpushed filters")
  }

  // formatted-plan node ids: "(3) Exchange" = shuffle, "(29) BroadcastExchange"
  // does NOT match (word boundary after the paren)
  private def shuffleCount(plan: String): Int =
    """\(\d+\) Exchange""".r.findAllIn(plan).size

  test("contrib_full keeps the one-scan one-entity-exchange shape") {
    val p = plans("contrib_full")
    // ONE exchange: the entity hash partition every window (including the
    // changeset struct) chains on. The round-6 presentation-sort purge
    // removed the former second (ordering) exchange — it must not return.
    assert(shuffleCount(p) <= 1, s"contrib_full grew a shuffle:\n$p")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size <= 3,
      "events must be scanned once (plus the two broadcast dims)")
  }

  test("geo_wkt_join and cs_db_enrich stay broadcast-shaped") {
    // wkt join: fact side maps cell ids and joins broadcast cells — with
    // presentation sorts gone the fact side never exchanges at all
    assert(shuffleCount(plans("geo_wkt_join")) === 0,
      "geo_wkt_join's fact side must not shuffle")
    assert(plans("geo_wkt_join").contains("BroadcastExchange"))
    // store enrichment: session window exchange only; the committed store
    // broadcasts
    assert(shuffleCount(plans("cs_db_enrich")) <= 1,
      "cs_db_enrich must broadcast the store, not shuffle the stream")
    assert(plans("cs_db_enrich").contains("BroadcastExchange"))
  }

  test("round-6 keys: geo_spikes one keyed exchange, text_repetition scan-only") {
    assert(shuffleCount(plans("geo_spikes")) <= 1,
      "geo_spikes is one window + partial agg on the same keyed exchange")
    assert(shuffleCount(plans("text_repetition")) === 0,
      s"text_repetition must stay scan-only:\n${plans("text_repetition")}")
  }


  test("round-8 keys: dedup_substring bucket-joined, ann_ivf_store broadcast probe") {
    // substring pairs join per fingerprint value under the MaxBucket cap —
    // hash joins only, and the doc side exchanges at most for the
    // fingerprint groupBys, never into an all-pairs shape
    assert(!plans("dedup_substring").contains("BroadcastNestedLoopJoin"),
      "dedup_substring must join per fingerprint bucket, never all-pairs")
    // the persisted-index probe broadcasts the query side; the cell-pruned
    // corpus scan feeds the join unshuffled — the only exchange is the
    // per-query rerank window on the (tiny) candidate set
    assert(plans("ann_ivf_store").contains("BroadcastExchange"),
      "ann_ivf_store must broadcast the probe side")
    assert(shuffleCount(plans("ann_ivf_store")) <= 1,
      s"ann_ivf_store corpus side must not shuffle:\n${plans("ann_ivf_store")}")
  }

  test("round-9 keys: sessionize one keyed exchange, decontaminate broadcast bench") {
    // sessionize: the window's user_id exchange also satisfies the
    // (user_id, session_idx) aggregation clustering — one shuffle total
    assert(shuffleCount(plans("evt_sessionize")) <= 1,
      s"evt_sessionize must reuse the window exchange:\n${plans("evt_sessionize")}")
    // decontamination: the benchmark gram set broadcasts; the corpus side
    // feeds the join scan-shaped (its only exchange is the final per-doc
    // partial agg)
    assert(plans("dedup_decontaminate").contains("BroadcastExchange"),
      "dedup_decontaminate must broadcast the benchmark gram set")
    assert(shuffleCount(plans("dedup_decontaminate")) <= 2,
      s"dedup_decontaminate corpus side must stay scan-shaped:\n${plans("dedup_decontaminate")}")
  }

  test("round-10 keys: temperature sampling broadcast-only, window agg bounded") {
    // sample_temperature: the fact side is a pure map behind ONE broadcast
    // of the tiny per-source table; the only exchanges belong to the
    // per-source aggregate + its window (dim-side, O(sources) rows)
    assert(plans("sample_temperature").contains("BroadcastExchange"),
      "sample_temperature must broadcast the per-source weight table")
    assert(shuffleCount(plans("sample_temperature")) <= 3,
      s"sample_temperature fact side must not shuffle:\n${plans("sample_temperature")}")
    // evt_window: partial agg map-side; count(distinct user) makes this a
    // two-phase agg — two keyed exchanges max, both on (window, type[, user])
    assert(shuffleCount(plans("evt_window")) <= 2,
      s"evt_window must stay a two-phase windowed agg:\n${plans("evt_window")}")
    // ann_pq: encode is scan-side map work (codeword literals inlined);
    // the only exchange is the WindowGroupLimit-pruned per-query top-5
    assert(shuffleCount(plans("ann_pq")) <= 1,
      s"ann_pq base side must not shuffle before the rank:\n${plans("ann_pq")}")
    assert(plans("ann_pq").contains("WindowGroupLimit"),
      "ann_pq top-5 must be WindowGroupLimit-pruned map-side")
  }

  test("round-10b keys: ivfpq/bigram-lm/sketches keep their broadcast shapes") {
    // ann_ivfpq: cell assignment + PQ encode are inlined-literal map work;
    // the probe LUTs broadcast; the only exchange is the top-5 rank window
    assert(plans("ann_ivfpq").contains("BroadcastExchange"),
      "ann_ivfpq must broadcast the probe LUT side")
    assert(shuffleCount(plans("ann_ivfpq")) <= 1,
      s"ann_ivfpq corpus side must not shuffle before the rank:\n${plans("ann_ivfpq")}")
    // text_bigram_lm: both count tables broadcast back onto the scan; the
    // fact side's only exchange is the per-doc fold (plus the two
    // vocabulary-sized count aggregations)
    assert(plans("text_bigram_lm").contains("BroadcastExchange"),
      "text_bigram_lm must broadcast the n-gram count tables")
    assert(shuffleCount(plans("text_bigram_lm")) <= 4,
      s"text_bigram_lm must stay scan + broadcast-shaped:\n${plans("text_bigram_lm")}")
    // q15_cube: Expand feeds ONE hash aggregate — a single exchange, the
    // fact table scanned once for all four grouping sets
    assert(shuffleCount(plans("q15_cube")) <= 1,
      s"q15_cube must be one Expand + one aggregate:\n${plans("q15_cube")}")
    assert(plans("q15_cube").contains("Expand"),
      "q15_cube must plan the grouping sets via Expand")
    // evt_attribution: single user_id window exchange, no self-join
    assert(shuffleCount(plans("evt_attribution")) <= 1,
      s"evt_attribution must be one keyed window, not a join:\n${plans("evt_attribution")}")
    // sketches: fixed-size state; cms probes the broadcast cell table
    assert(plans("sketch_cms").contains("BroadcastExchange"),
      "sketch_cms must broadcast the 512-cell sketch to the probe")
    assert(shuffleCount(plans("sketch_hll")) <= 6 &&
      shuffleCount(plans("sketch_cms")) <= 4,
      "sketch exchanges must stay on sketch-sized frames")
  }

  test("round-10c keys: transitions single-keyed, dsir broadcast-scored") {
    // evt_transitions: the pair walk is ONE user_id window exchange; the
    // matrix aggregation + its row-total window run on a |types|²-row frame
    assert(shuffleCount(plans("evt_transitions")) <= 3,
      s"evt_transitions must stay lag-window + tiny-matrix:\n${plans("evt_transitions")}")
    assert(!plans("evt_transitions").contains("SortMergeJoin") &&
      !plans("evt_transitions").contains("BroadcastHashJoin"),
      "evt_transitions must pair via lag, never a self-join")
    // sample_dsir: the token scan joins the broadcast vocabulary ratios;
    // exchanges belong to the two count tables + the per-doc fold
    assert(plans("sample_dsir").contains("BroadcastExchange"),
      "sample_dsir must broadcast the vocabulary ratio table")
    assert(shuffleCount(plans("sample_dsir")) <= 4,
      s"sample_dsir fact side must stay scan + broadcast:\n${plans("sample_dsir")}")
  }

  test("round-10d keys: quantile sketch constant-state, anomaly broadcast moments") {
    // sketch_quantile: one (type, bin) partial-agg exchange; the cumsum
    // window and final fold run on the 5×64-row histogram
    assert(shuffleCount(plans("sketch_quantile")) <= 3,
      s"sketch_quantile must fold into fixed bins first:\n${plans("sketch_quantile")}")
    // evt_anomaly: ONE events scan — moments are window aggregates over
    // the tiny hourly frame, never a second fact-table aggregation
    assert(shuffleCount(plans("evt_anomaly")) <= 2,
      s"evt_anomaly must stay two keyed exchanges:\n${plans("evt_anomaly")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("evt_anomaly")).size == 1,
      "evt_anomaly must scan events exactly once")
  }

  test("mm_dedup stays a capped bucket equi-join (never all-pairs)") {
    val p = plans("mm_dedup")
    // hash + band explode are scan-side; candidates meet ONLY in the
    // (band, bkey) equi-join — a nested-loop/cartesian here would be the
    // all-pairs plan the banding exists to avoid (globally asserted too)
    assert(shuffleCount(p) <= 4, s"mm_dedup grew extra exchanges:\n$p")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin"),
      "mm_dedup candidates must come from the band-bucket equi-join")
  }

  test("evt_concurrency: global sweep decomposes into bounded-domain passes") {
    val p = plans("evt_concurrency")
    // ONE events scan (explode, not union — a union would branch the
    // sessionize lineage and scan twice); exchanges = sessionize user_id
    // + boundary (hour,t) + within-hour window + the single-partition
    // carry prefix over the bounded hour frame. No join anywhere.
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      s"evt_concurrency must scan events exactly once:\n$p")
    assert(!p.contains("Join"), "the hour fold must make the carry join unnecessary")
    assert(shuffleCount(p) <= 5, s"evt_concurrency grew extra exchanges:\n$p")
  }

  test("evt_concurrency: the global carry window reads the hour-folded frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // the single-partition carry prefix is safe ONLY because its input is
    // the hour-folded aggregate (bounded by the hour domain — 87 660 rows
    // per decade at any corpus size); a refactor feeding it the boundary
    // table would funnel the corpus through one task. Pin the structure:
    // the one empty-partition Window must sit directly on an Aggregate
    // grouped exactly by hour.
    val lp = graft.operators.Events.concurrency(spark, sfDir)
      .queryExecution.optimizedPlan
    val globals = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globals.size === 1,
      s"exactly one global window expected in evt_concurrency:\n$lp")
    var node: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      globals.head.child
    var hops = 0
    while (!node.isInstanceOf[Aggregate] && hops < 10) {
      assert(!node.isInstanceOf[LWindow],
        s"no other window may feed the carry before the hour fold:\n$lp")
      assert(node.children.size === 1,
        s"the carry input must be a straight pipeline to the fold:\n$lp")
      node = node.children.head
      hops += 1
    }
    node match {
      case a: Aggregate =>
        val keys = a.groupingExpressions.flatMap(_.references.map(_.name)).distinct
        assert(keys === Seq("hour"),
          s"the carry window's input must be folded to one row per hour, " +
            s"got grouping $keys:\n$lp")
      case other =>
        fail(s"the carry window must read an hour-grouped Aggregate, got $other:\n$lp")
    }
  }

  test("evt_paths: one user exchange feeds every window; bounded tail") {
    val p = plans("evt_paths")
    // session breaks and both lookaheads share the per-user partitioning:
    // one user_id exchange + the |types|³-bounded path aggregate + the
    // ≤10-row rank tail; no join anywhere
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      s"evt_paths must scan events exactly once:\n$p")
    assert(!p.contains("Join"), s"evt_paths must not join:\n$p")
    assert(shuffleCount(p) <= 4, s"evt_paths grew extra exchanges:\n$p")
  }

  test("text_bpe_apply: encode is a broadcast dict join, one corpus scan + one fold") {
    val p = plans("text_bpe_apply")
    // the corpus is never re-symbolized per doc: one documents scan,
    // words joined against the BROADCAST vocab-sized dictionary (the
    // checkpointed trainer output — not a parquet rescan), and the only
    // shuffle is the per-doc fold
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      s"text_bpe_apply must scan documents exactly once:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the dict join must broadcast:\n$p")
    assert(shuffleCount(p) <= 1, s"text_bpe_apply grew extra exchanges:\n$p")
  }

  test("pipe_curate: five gates share one scan and one keyed exchange") {
    val p = plans("pipe_curate")
    // the composed pipeline must cost what text_fingerprint costs alone —
    // all gate signals (incl. the r11 deconstats decontamination gate,
    // whose bench artifact binds into the kernel like a broadcast hash
    // relation) are expression work on the SAME scan, and only the dedup
    // window exchanges (chaining the standalone ops would scan 5×)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      s"pipe_curate must scan documents exactly once:\n$p")
    assert(shuffleCount(p) <= 1, s"pipe_curate grew extra exchanges:\n$p")
    assert(!p.contains("Join"), "gates must compose as expressions, not joins")
    assert(p.contains("deconstats"),
      s"the decontamination gate must ride the composed scan:\n$p")
  }

  test("emb_outliers: map-only assignment, K-row stats broadcast back") {
    val p = plans("emb_outliers")
    // assignment is inlined-literal argmax (no shuffle for the corpus);
    // the only exchange belongs to the K-row stats aggregate, which must
    // BROADCAST back — a cell window would funnel everything through K=8
    // reducers, and a shuffle join would exchange the corpus for an
    // 8-row side
    assert(p.contains("BroadcastExchange"),
      s"emb_outliers must broadcast the cell stats:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the stats join must not shuffle the corpus side")
    assert(shuffleCount(p) <= 1, s"emb_outliers grew extra exchanges:\n$p")
  }

  test("dedup_bloom: membership test is scan-side bit arithmetic before any join") {
    // the bitmap is an inlined literal: bloom probing must add NO join —
    // the only joins are the gated exact verification and nothing else
    val p = plans("dedup_bloom")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(shuffleCount(p) <= 4,
      s"dedup_bloom must gate the exact join behind the scan-side bitmap:\n$p")
  }

  test("geo_knn broadcasts probes; point side hashes on its own cell key") {
    assert(plans("geo_knn").contains("BroadcastExchange"),
      "geo_knn must broadcast the exploded probe cells")
    assert(shuffleCount(plans("geo_knn")) <= 1,
      s"geo_knn point side must not shuffle before the rank:\n${plans("geo_knn")}")
  }

  test("sample_mixture keeps the fact side scan-shaped behind one broadcast") {
    val p = plans("sample_mixture")
    // the fact side never exchanges: its only join is the broadcast of the
    // 20-row per-source budget table; the two exchanges belong to that tiny
    // side (per-source agg + the single-partition total window)
    assert(p.contains("BroadcastExchange"),
      "sample_mixture must broadcast the per-source budget table")
    assert(shuffleCount(p) <= 2,
      s"sample_mixture's exchanges must stay on the tiny side:\n$p")
  }

  test("text_salient top-k is WindowGroupLimit-pruned") {
    assert(plans("text_salient").contains("WindowGroupLimit"),
      "text_salient's rank cutoff must prune map-side")
  }

  test("round-13 new keys: bounded exchanges, ppr returns TakeOrdered") {
    // cs_bbox: the one user-keyed sessionize exchange also serves the
    // (user, cs_seq) aggregate; WKB encode + box predicate are map-side
    assert(shuffleCount(plans("cs_bbox")) <= 1,
      s"cs_bbox:\n${plans("cs_bbox")}")
    // dedup_url: scan-side canonicalization + ONE hash-aggregate exchange
    assert(shuffleCount(plans("dedup_url")) <= 1,
      s"dedup_url:\n${plans("dedup_url")}")
    // geo_geohash: kernel scan-side; cell agg + the exact-distinct expand
    assert(shuffleCount(plans("geo_geohash")) <= 2,
      s"geo_geohash:\n${plans("geo_geohash")}")
    // evt_trend: (type, hour) fold + the type-keyed window sort
    assert(shuffleCount(plans("evt_trend")) <= 2,
      s"evt_trend:\n${plans("evt_trend")}")
    // graph_ppr (r14 optimization): the 5 rank rounds are ONE pipelined
    // plan — no per-round localCheckpoint barrier — so the audited plan
    // is live. Per round: ≤ 2 node-scale exchanges for the rank state
    // (contribution join + merge) + the partial-agg gather + the edge
    // side's co-partition exchange (free at scale where the artifact
    // spans > 1 partition); joins must be hash, never sort-merge, and
    // the top-20 a TakeOrdered.
    assert(shuffleCount(plans("graph_ppr")) <= 7 * operators.Graph.PrRounds + 2,
      s"graph_ppr:\n${plans("graph_ppr")}")
    assert(plans("graph_ppr").contains("TakeOrderedAndProject"),
      "graph_ppr top-20 must be TakeOrdered")
    assert(plans("graph_ppr").contains("ShuffledHashJoin"),
      "graph_ppr round joins must be shuffled-hash")
    // ann_rerank: ADC shortlist window + exact rerank window, both q-keyed
    assert(shuffleCount(plans("ann_rerank")) <= 3,
      s"ann_rerank:\n${plans("ann_rerank")}")
    // text_kn_lm: every exchange lives on the vocab²-bounded type frame
    assert(shuffleCount(plans("text_kn_lm")) <= 4,
      s"text_kn_lm:\n${plans("text_kn_lm")}")
    // q37_bom: the closure is checkpointed; the tail is self ∪ closure →
    // one part join → one ancestor aggregate
    assert(shuffleCount(plans("q37_bom")) <= 4,
      s"q37_bom:\n${plans("q37_bom")}")
  }

  test("no sort-merge joins at test scale (broadcast should win everywhere)") {
    // dedup_clusters joins two node-sized frames (labels ⨝ neighbor mins);
    // dedup_semantic's verdict is corpus LEFT JOIN per-vector dup counts —
    // both big-big at scale, where a shuffle join IS the intended plan
    // (cached/derived intermediates also lack stats for broadcast planning
    // at test scale)
    // sketch_kmv's EXACT control is the per-user type-pair self-join —
    // big-big at scale by nature (that's what the sketch exists to avoid)
    // graph_pagerank iterates rank ⨝ edges: both node-/edge-scale at
    // scale (a broadcast of node-scale ranks would be the wrong plan at
    // 100 TB), and the iterative lineage has no stats for broadcast
    // planning anyway
    val bigBig = Set("dedup_clusters", "dedup_semantic", "sketch_kmv",
      "graph_pagerank")
    for ((name, plan) <- plans if !bigBig(name))
      assert(!plan.contains("SortMergeJoin"), s"$name falls back to SMJ")
  }

  test("round-11 keys: colloc/bm25 broadcast-shaped, emb_pca projection map-only") {
    // collocations: 3 exchanges = the bigram count + the unigram count
    // table planned under each of its two broadcast sides; top-20 is a
    // TakeOrderedAndProject (never a global sort) and the rank window
    // runs on the 20 surviving rows
    assert(shuffleCount(plans("text_collocations")) <= 3,
      s"text_collocations:\n${plans("text_collocations")}")
    assert(plans("text_collocations").contains("TakeOrderedAndProject"),
      "text_collocations top-20 must be TakeOrdered, not a global sort")
    // bm25 caches its postings frame (consumed by the df table AND the
    // match probe) and returns through the same localCheckpoint-then-
    // release discipline as dedup_lsh_pairs, so the audited plan is the
    // materialized result — the structural shape (one postings exchange,
    // broadcast query/df tables, WindowGroupLimit-pruned top-5) is
    // covered by the oracle at three scales instead
    assert(shuffleCount(plans("text_bm25")) === 0,
      s"text_bm25 must return its materialized checkpoint:\n${plans("text_bm25")}")
    assert(shuffleCount(plans("emb_pca")) <= 0,
      s"emb_pca:\n${plans("emb_pca")}")
    // evt_smooth: the EWMA fold must consume the hour-folded frame, not
    // raw events — exactly two keyed exchanges (hourly count, per-type
    // series), the explode back to rows is map-side
    assert(shuffleCount(plans("evt_smooth")) <= 2,
      s"evt_smooth:\n${plans("evt_smooth")}")
    // mm_scenes: frame emit + hashing scan-side; the ONLY exchange is
    // the per-payload lag window
    assert(shuffleCount(plans("mm_scenes")) <= 1,
      s"mm_scenes:\n${plans("mm_scenes")}")
  }

  test("round-12 keys: q17 broadcast-decorrelated, histogram one agg, cc materialized") {
    // q17_corr: part dim AND the per-part threshold table broadcast, so
    // the only exchanges are the two bounded aggregates (threshold +
    // final per-part rollup) over the brand-filtered fact subset; top-20
    // is TakeOrdered, never a global sort
    assert(shuffleCount(plans("q17_corr")) <= 2,
      s"q17_corr:\n${plans("q17_corr")}")
    assert(plans("q17_corr").contains("TakeOrderedAndProject"),
      "q17_corr top-20 must be TakeOrdered")
    assert(plans("q17_corr").contains("BroadcastExchange"),
      "q17_corr must broadcast the part dim and threshold table")
    // evt_histogram: one partial-agg exchange on the bounded
    // (type × bucket) key space + the presentation sort of ≤ 64·types rows
    assert(shuffleCount(plans("evt_histogram")) <= 2,
      s"evt_histogram:\n${plans("evt_histogram")}")
    // graph_cc (r14 optimization): the 8 hash-min rounds pipeline in ONE
    // live plan over the self-loop edge artifact — single-reference
    // recurrence, no per-round checkpoint barrier. Per round ≤ 2
    // node-scale state exchanges + the edge co-partition exchange (free
    // at scale); hash joins only; iteration semantics covered by the
    // union-find spec + the oracle replay.
    assert(shuffleCount(plans("graph_cc")) <= 5 * operators.Graph.CcRounds + 2,
      s"graph_cc:\n${plans("graph_cc")}")
    assert(!plans("graph_cc").contains("SortMergeJoin"),
      "graph_cc round joins must be hash, not sort-merge")
    // graph_jaccard: triangle-credit aggregate + edge joins — every
    // exchange edge-scale, top-20 TakeOrdered
    assert(plans("graph_jaccard").contains("TakeOrderedAndProject"),
      "graph_jaccard top-20 must be TakeOrdered")
  }

  test("round-12 relational keys: q18 narrow HAVING cut, q19 pushed superset") {
    // q18_having: the HAVING aggregate runs on the narrow (orderkey,
    // qty) projection — exchanges are the qty aggregate + the two
    // rejoins (AQE may collapse either to broadcast at runtime); top-100
    // is TakeOrdered, never a global sort
    assert(shuffleCount(plans("q18_having")) <= 4,
      s"q18_having:\n${plans("q18_having")}")
    assert(plans("q18_having").contains("TakeOrderedAndProject"),
      "q18_having top-100 must be TakeOrdered")
    // q19_disjunctive: the disjunction's union-superset must reach the
    // part scan as pushed filters (brand IN + size range), the dim
    // broadcasts, and lineitem aggregates without a keyed exchange —
    // the only exchange is the single-row partial-agg gather
    assert(plans("q19_disjunctive").contains("BroadcastExchange"),
      "q19_disjunctive must broadcast the brand-cut part dim")
    assert(shuffleCount(plans("q19_disjunctive")) <= 1,
      s"q19_disjunctive:\n${plans("q19_disjunctive")}")
    val partScan = plans("q19_disjunctive")
    assert(partScan.contains("p_size") && partScan.contains("PushedFilters"),
      "q19_disjunctive part scan must carry pushed brand/size filters")
    // graph_kcore returns through the checkpoint-then-release discipline
    // (the per-round peel references its edge frame 3×, so rounds still
    // materialize) — iteration shape covered by the GraphSpec exact peel
    assert(shuffleCount(plans("graph_kcore")) === 0,
      s"graph_kcore must return its materialized checkpoint:\n${plans("graph_kcore")}")
    // graph_bfs (r14 optimization): 6 min-plus rounds in ONE live plan
    // over the w-weighted self-loop artifact — single-reference
    // recurrence, no per-round checkpoint barrier; hash joins only.
    assert(shuffleCount(plans("graph_bfs")) <= 5 * operators.Graph.BfsRounds + 2,
      s"graph_bfs:\n${plans("graph_bfs")}")
    assert(!plans("graph_bfs").contains("SortMergeJoin"),
      "graph_bfs round joins must be hash, not sort-merge")
    // pipe_curate: the decontamination artifact binds as a BROADCAST
    // REFERENCE, never an inlined plan literal (the serialized literal
    // would ship with every task at 100 TB)
    assert(plans("pipe_curate").contains("decon_artifact"),
      "pipe_curate must bind the decon artifact through the broadcast ref")
  }

  test("late-round-12 keys: q20/q21/q22 collapsed exchanges, mips group-limit") {
    // q20_nested_agg: part dim broadcasts BEFORE the pair aggregate, so
    // lineitem's only movement is its partial-agg exchange; the window
    // and final rollup exchanges all move |part×supp|-bounded rows
    val q20 = plans("q20_nested_agg")
    assert(q20.contains("BroadcastExchange"),
      "q20 must broadcast the size-pruned part dim")
    assert(shuffleCount(q20) <= 5, s"q20_nested_agg grew a shuffle:\n$q20")
    assert(q20.contains("LessThan(p_size,10)"),
      "q20 part scan must push the size prune")
    // q21_sole_blame: every keyed exchange carries aggregate partials
    // (pair / order / blame) — raw joined rows never shuffle because
    // partial aggregation runs map-side below each exchange; joins are
    // AQE-sized (broadcast at test scale)
    val q21 = plans("q21_sole_blame")
    assert(shuffleCount(q21) <= 3, s"q21_sole_blame grew a shuffle:\n$q21")
    assert(q21.contains("TakeOrderedAndProject"),
      "q21 top-20 must be TakeOrdered")
    assert(q21.contains("EqualTo(o_orderstatus,F)"),
      "q21 orders scan must push the status filter")
    // q22_anti_scalar: the big-ticket price filter pushes to the orders
    // scan feeding the anti join; the population threshold binds as a
    // 1-row broadcast
    val q22 = plans("q22_anti_scalar")
    assert(q22.contains("GreaterThan(o_totalprice,300000.0)"),
      "q22 orders scan must push the big-ticket filter")
    assert(q22.contains("LeftAnti"), "q22 must plan a left-anti join")
    // ann_mips: the per-probe top-5 must run as WindowGroupLimit
    // (partial below the exchange), so only ≤ k rows per probe cross —
    // the corpus itself never sorts or shuffles
    val mips = plans("ann_mips")
    assert(mips.contains("WindowGroupLimit"),
      "ann_mips top-k must push down as WindowGroupLimit")
    assert(shuffleCount(mips) <= 1, s"ann_mips grew a shuffle:\n$mips")
    // text_lm_bucket: the only SinglePartition exchange feeds the
    // value-domain-bounded histogram walk, never the corpus. The static
    // plan duplicates the whole doc-score branch (scored + threshold
    // sides, 10 exchanges); at runtime exchange reuse collapses the
    // second branch to a ReusedExchange — assert the corpus-side
    // SinglePartition count instead of the raw exchange tally
    val lmb = plans("text_lm_bucket")
    assert(shuffleCount(lmb) <= 10, s"text_lm_bucket grew a shuffle:\n$lmb")
    assert("Exchange SinglePartition".r.findAllIn(lmb).size <= 2,
      "text_lm_bucket must single-partition only the bounded histogram")
  }

  test("batch-5 keys: fusion stays query-scale, censuses stay bounded") {
    // ann_hybrid: both branch top-5s must prune below their exchanges —
    // the fusion join then runs on ≤ 5·|queries| rows per side
    val hyb = plans("ann_hybrid")
    assert(hyb.contains("WindowGroupLimit"),
      "ann_hybrid branch top-ks must push down as WindowGroupLimit")
    // evt_ab_test: one distinct-tuple exchange feeds both the conversion
    // and size aggregates; everything after is |types|-bounded
    val ab = plans("evt_ab_test")
    assert(shuffleCount(ab) <= 5, s"evt_ab_test grew a shuffle:\n$ab")
    // hist_lifespan: entity rollup + bounded histogram + ordered output
    val ls = plans("hist_lifespan")
    assert(shuffleCount(ls) <= 3, s"hist_lifespan grew a shuffle:\n$ls")
    // geo_dbscan_core: the r14 unique-coordinate collapse adds one
    // aggregate restated on both join branches (runtime dedupes via
    // exchange reuse); cell-keyed self-join + per-coord count + bounded
    // rollup + sort — no zero-neighbor re-entry join exists to plan
    val db = plans("geo_dbscan_core")
    assert(shuffleCount(db) <= 7, s"geo_dbscan_core grew a shuffle:\n$db")
    assert(!db.contains("BroadcastNestedLoopJoin"),
      "geo_dbscan_core neighbor join must stay a hash join on the cell key")
  }

  test("r14 new keys: png decode scan-only, window50 bucket-capped join") {
    // mm_png: encode+decode+features all live in the one mapPartitions
    // batch — a pure scan, ZERO exchanges (the mm_features discipline)
    assert(shuffleCount(plans("mm_png")) === 0,
      s"mm_png grew a shuffle:\n${plans("mm_png")}")
    // dedup_window50: per-doc distinct fold + the fp-keyed bucket-cap
    // window per join branch + the pair rollup. At test scale the
    // candidate join plans as a BROADCAST of the capped side, so the two
    // branches keep their own window exchanges (5 total — runtime
    // exchange reuse dedupes the shared subplan); at scale the same
    // plan's branches co-partition on fp. The join must stay a hash
    // join on the fingerprint, never a pair explosion.
    val w50 = plans("dedup_window50")
    assert(shuffleCount(w50) <= 5, s"dedup_window50 grew a shuffle:\n$w50")
    assert(!w50.contains("BroadcastNestedLoopJoin") &&
      !w50.contains("CartesianProduct"),
      "dedup_window50 candidates must join on the fingerprint key")
  }

  test("r14: no static broadcast hint on corpus-proportional query frames") {
    // ann_hybrid's probe set and bm25Score's qt/dfq are every-101st-doc
    // frames — corpus-proportional BY CONSTRUCTION — so a pinned
    // broadcast() would ship a corpus fraction through the driver at
    // 100×. The r14 fix drops the hints and lets AQE size the runtime
    // exchanges (it still picks broadcast where the frame fits, which
    // the blanket no-SMJ test above confirms at test scale). This pin
    // keeps the hints out: the analyzed logical plan must carry ZERO
    // ResolvedHint nodes for these keys.
    for (k <- Seq("ann_hybrid", "text_bm25", "bm25_store")) {
      val analyzed = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.analyzed.treeString
      assert(!analyzed.contains("ResolvedHint"),
        s"$k reintroduced a static broadcast hint:\n$analyzed")
    }
  }

  test("round-13 keys: islands/ttc window-exchange reuse, skew_join hash-shaped") {
    // q28_islands: the suppkey window exchange must satisfy BOTH stacked
    // groupBys (clustering on a grouping-key subset) — only the
    // presentation sort may add a second exchange
    val isl = plans("q28_islands")
    assert(shuffleCount(isl) <= 2, s"q28_islands grew a shuffle:\n$isl")
    // evt_ttc: user window exchange reused by the per-user fold, then the
    // bounded bucket rollup + ordered output
    val ttc = plans("evt_ttc")
    assert(shuffleCount(ttc) <= 3, s"evt_ttc grew a shuffle:\n$ttc")
    // skew_join: the POINT is the shuffled hash join on (key, salt) — a
    // planner flip to broadcast would silently un-demonstrate the salt
    // spread (and a NLJ would be a correctness-of-shape bug)
    val sj = plans("skew_join")
    assert(sj.contains("ShuffledHashJoin"),
      s"skew_join must keep the (key, salt) shuffled hash join:\n$sj")
    assert(shuffleCount(sj) <= 4, s"skew_join grew a shuffle:\n$sj")
  }

  test("late round-13 keys: scan-only text ops, bounded rollup frames") {
    // text_readability / text_ttr: pure per-row expression work — zero
    // exchanges (the coalesce-free scan IS the operator)
    assert(shuffleCount(plans("text_readability")) === 0,
      s"text_readability must stay scan-only:\n${plans("text_readability")}")
    assert(shuffleCount(plans("text_ttr")) === 0,
      s"text_ttr must stay scan-only:\n${plans("text_ttr")}")
    // q29_unpivot: Expand (Melt) + one bounded attribute aggregate + sort
    assert(shuffleCount(plans("q29_unpivot")) <= 2,
      s"q29_unpivot grew a shuffle:\n${plans("q29_unpivot")}")
    // pipe_shard: scan-side hash + ONE bounded 16-row aggregate + sort
    assert(shuffleCount(plans("pipe_shard")) <= 2,
      s"pipe_shard grew a shuffle:\n${plans("pipe_shard")}")
    // evt_seasonality: 168-cell rollup; distinct-user second phase + sort
    assert(shuffleCount(plans("evt_seasonality")) <= 3,
      s"evt_seasonality grew a shuffle:\n${plans("evt_seasonality")}")
    // geo_orientation: one entity window exchange + 8-row rose + sort
    assert(shuffleCount(plans("geo_orientation")) <= 3,
      s"geo_orientation grew a shuffle:\n${plans("geo_orientation")}")
    // text_confusion: scored scan partials into the ≤|langs|² frame,
    // two bounded mass windows + sort
    assert(shuffleCount(plans("text_confusion")) <= 4,
      s"text_confusion grew a shuffle:\n${plans("text_confusion")}")
  }

  test("round-14 keys: interval join is a pair-free sweep-line") {
    // evt_interval_join: NO event×incident pair join survives — the only
    // join is the broadcast of the time-bounded bin-carry frame; every
    // exchange (second fold, user islands, delta merge, bin windows,
    // carry agg) is corpus-linear, so 10× density can never cost ×100
    val p = plans("evt_interval_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"evt_interval_join must never shuffle a pair join:\n$p")
    assert(p.contains("BroadcastExchange"),
      "evt_interval_join must broadcast the bin-carry frame")
    // the carry branch re-states the delta subtree in the plan TREE, but
    // the exchanges are identical and dedupe at runtime (measured: 4
    // executed + 2 ReusedExchange at sf0.01) — pin the tree at its
    // current 9 so a real growth still fails
    assert(shuffleCount(p) <= 9,
      s"evt_interval_join grew a shuffle:\n$p")
    // text_chunk / text_badwords: scan-only — the explode/membership
    // filter is map-side expression work, zero exchanges
    assert(shuffleCount(plans("text_chunk")) === 0,
      s"text_chunk must stay scan-only:\n${plans("text_chunk")}")
    assert(shuffleCount(plans("text_badwords")) === 0,
      s"text_badwords must stay scan-only:\n${plans("text_badwords")}")
    // evt_cohort: one user-keyed window; the bounded matrix rollup's
    // distinct-user phase + presentation sort
    assert(shuffleCount(plans("evt_cohort")) <= 4,
      s"evt_cohort grew a shuffle:\n${plans("evt_cohort")}")
    // evt_ffill: exactly the one user-keyed window exchange, no join
    assert(shuffleCount(plans("evt_ffill")) <= 1,
      s"evt_ffill must be one keyed window:\n${plans("evt_ffill")}")
    assert(!plans("evt_ffill").contains("Join"),
      "evt_ffill must never join events to purchases")
    // q30_skyline: bin-keyed cummax + broadcast carry — the dominance
    // test must never become an inequality join
    assert(!plans("q30_skyline").contains("Join") ||
      plans("q30_skyline").contains("BroadcastHashJoin"),
      s"q30_skyline must only broadcast the carry:\n${plans("q30_skyline")}")
    assert(!plans("q30_skyline").contains("SortMergeJoin") &&
      !plans("q30_skyline").contains("NestedLoop"),
      "q30_skyline must not plan a dominance join")
    assert(shuffleCount(plans("q30_skyline")) <= 5,
      s"q30_skyline grew a shuffle:\n${plans("q30_skyline")}")
    // evt_markov: the corpus-scale matrix pass is lag-walk-shaped; the 8
    // iteration joins are |types|-row broadcasts, never sort-merge
    assert(!plans("evt_markov").contains("SortMergeJoin"),
      s"evt_markov iterations must broadcast:\n${plans("evt_markov")}")
    // pipe_manifest: curate signals stay ONE scan (deconstats kernel
    // present); the dedup window + pack block prefix are the only
    // corpus-scale exchanges, the block frame broadcasts back
    assert(plans("pipe_manifest").contains("deconstats"),
      "pipe_manifest must reuse the fused curation kernel")
    assert(plans("pipe_manifest").contains("BroadcastExchange"),
      "pipe_manifest must broadcast the pack block frame")
    assert(!plans("pipe_manifest").contains("SortMergeJoin"),
      s"pipe_manifest grew a corpus join:\n${plans("pipe_manifest")}")
    // q31_weighted_median: the only joins are the broadcast median-bin
    // set; the corpus never sorts globally
    assert(!plans("q31_weighted_median").contains("SortMergeJoin"),
      s"q31_weighted_median must broadcast the median bins:\n${plans("q31_weighted_median")}")
    // q32_zorder: one scan + one bounded aggregate + sort
    assert(shuffleCount(plans("q32_zorder")) <= 2,
      s"q32_zorder grew a shuffle:\n${plans("q32_zorder")}")
    // evt_acf: one corpus-scale hourly partial; lag machinery stays on
    // the bounded hourly frame (hash joins fine, never a nested loop
    // beyond the whitelisted scalar binds)
    assert(!plans("evt_acf").contains("CartesianProduct"),
      s"evt_acf must never cross-join the corpus:\n${plans("evt_acf")}")
    // emb_drift: one scan + the bounded 64-dim aggregate + sort; the
    // midpoint bind adds its own 1-row single-partition aggregate
    assert(shuffleCount(plans("emb_drift")) <= 3,
      s"emb_drift grew a shuffle:\n${plans("emb_drift")}")
    // q33_mode: partial count exchange + the bounded period windows +
    // sort; the rank cutoff must prune map-side
    assert(plans("q33_mode").contains("WindowGroupLimit"),
      "q33_mode's argmax must push down as WindowGroupLimit")
    assert(shuffleCount(plans("q33_mode")) <= 3,
      s"q33_mode grew a shuffle:\n${plans("q33_mode")}")
    // evt_multitouch: one user-keyed range window, never a self-join
    assert(shuffleCount(plans("evt_multitouch")) <= 1,
      s"evt_multitouch must be one keyed window:\n${plans("evt_multitouch")}")
    assert(!plans("evt_multitouch").contains("Join"),
      "evt_multitouch must never join purchases to clicks")
    // pipe_validate: every per-row constraint folds into the one-scan
    // aggregate; the orphan anti-join must stay a hash join
    assert(!plans("pipe_validate").contains("SortMergeJoin") ||
      plans("pipe_validate").contains("LeftAnti"),
      s"pipe_validate orphan check must stay an anti-join:\n${plans("pipe_validate")}")
  }

  test("round-12f keys: blur scan-only, cdc two keyed exchanges, filtered broadcast") {
    // mm_blur: decode + convolution are map work — nothing shuffles
    assert(shuffleCount(plans("mm_blur")) === 0,
      s"mm_blur must stay scan-only:\n${plans("mm_blur")}")
    // dedup_cdc: chunk-hash dedup + doc rollup — the dedup_passage budget;
    // the canonical aggregate and the join back share the h-keyed exchange
    assert(shuffleCount(plans("dedup_cdc")) <= 3,
      s"dedup_cdc must keep the dedup_passage exchange budget:\n${plans("dedup_cdc")}")
    assert(!plans("dedup_cdc").contains("BroadcastNestedLoopJoin"),
      "dedup_cdc chunks join per content hash, never all-pairs")
    // ann_filtered: broadcast probes; base side map-only until the rank
    // window; the n_cand window reuses the q_id partitioning
    assert(plans("ann_filtered").contains("BroadcastExchange"),
      "ann_filtered must broadcast the probe set")
    assert(shuffleCount(plans("ann_filtered")) <= 1,
      s"ann_filtered base side must not shuffle before the rank window:\n${plans("ann_filtered")}")
    // sketch_ams: sketch side is one partial-agg exchange into the
    // |types|x32 state; the exact control pays its distinct-tuple exchange
    assert(shuffleCount(plans("sketch_ams")) <= 4,
      s"sketch_ams must stay two aggregates + a bounded join:\n${plans("sketch_ams")}")
    // text_keyness: token explode partial-aggregates into the vocab frame;
    // the totals window rides that tiny frame
    assert(shuffleCount(plans("text_keyness")) <= 3,
      s"text_keyness must aggregate map-side into the vocab frame:\n${plans("text_keyness")}")
    // evt_survival: sessionize user exchange, duration-frame aggregate,
    // then bounded-domain global passes only
    assert(shuffleCount(plans("evt_survival")) <= 4,
      s"evt_survival must stay on the bounded duration frame:\n${plans("evt_survival")}")
  }

  test("round-12g keys: benford/holdout/mix bounded frames; mad checkpoint-collapsed") {
    // q36_benford: one fact scan folding map-side into the 9-digit frame;
    // the share window rides that frame
    assert(shuffleCount(plans("q36_benford")) <= 2,
      s"q36_benford must fold map-side into the digit frame:\n${plans("q36_benford")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("q36_benford")).size === 1,
      "q36_benford reads orders exactly once")
    // sample_holdout: two-phase distinct-user agg + the 3-row share window
    assert(shuffleCount(plans("sample_holdout")) <= 3,
      s"sample_holdout must stay two-phase + the split frame:\n${plans("sample_holdout")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("sample_holdout")).size === 1,
      "sample_holdout reads events exactly once")
    // pipe_mix: the curate fp-window exchange + the source-frame aggregate
    // + its share window — no new corpus-scale shuffle beyond pipe_curate's
    assert(shuffleCount(plans("pipe_mix")) <= 3,
      s"pipe_mix adds no corpus-scale shuffle over its curate input:\n${plans("pipe_mix")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("pipe_mix")).size === 1,
      "pipe_mix rides pipe_curate's ONE documents scan")
    // q35_mad: both order-statistic passes consume the cached value
    // histogram and each collects a 1-row-per-group constant — the final
    // plan is a local-relation join; a refactor that drags the corpus
    // into the returned plan resurfaces as a parquet scan here
    assert(!plans("q35_mad").contains("Scan parquet"),
      "q35_mad must serve both passes from the cached histogram")
  }

  test("round-12h audit keys stay scan-shaped with bounded frames") {
    // dedup_bucket_stats: signature kernel + band explode scan-side, one
    // (band,bkey) aggregate, one per-band aggregate, the share window on
    // the |bands| frame (+1 for the signature rebalance repartition)
    assert(shuffleCount(plans("dedup_bucket_stats")) <= 4,
      s"dedup_bucket_stats must collapse map-side:\n${plans("dedup_bucket_stats")}")
    // ann_cell_stats: map-only cell assignment (inlined centroid
    // literals), ONE aggregate into the K-row frame + its share window
    assert(shuffleCount(plans("ann_cell_stats")) <= 2,
      s"ann_cell_stats must stay map-only before the K-row frame:\n${plans("ann_cell_stats")}")
    assert(!plans("ann_cell_stats").contains("BroadcastNestedLoopJoin") &&
      !plans("ann_cell_stats").contains("SortMergeJoin"),
      "ann_cell_stats joins nothing on the fact side")
    // text_len_profile: one scan, map-side partials into the lang×7 frame
    assert(shuffleCount(plans("text_len_profile")) <= 2,
      s"text_len_profile must fold map-side:\n${plans("text_len_profile")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("text_len_profile")).size === 1,
      "text_len_profile reads documents exactly once")
    // text_dedup_report: two stacked map-side-combinable aggregates,
    // no window, no join
    assert(shuffleCount(plans("text_dedup_report")) <= 2,
      s"text_dedup_report is two stacked aggregates:\n${plans("text_dedup_report")}")
    assert(!plans("text_dedup_report").contains("Window") &&
      !plans("text_dedup_report").contains("Join"),
      "text_dedup_report needs no window or join")
    // evt_schema_audit: key census partial-aggregates map-side; the
    // 5-row type totals broadcast back
    assert(shuffleCount(plans("evt_schema_audit")) <= 3,
      s"evt_schema_audit must fold map-side into the key census:\n${plans("evt_schema_audit")}")
    assert(plans("evt_schema_audit").contains("BroadcastExchange"),
      "evt_schema_audit broadcasts the type totals")
    // geo_grid_audit: scan-side cell id → domain-frame aggregate → band
    // rollup + two share windows on the band frame; no joins
    assert(shuffleCount(plans("geo_grid_audit")) <= 3,
      s"geo_grid_audit must stay domain-framed:\n${plans("geo_grid_audit")}")
    assert(!plans("geo_grid_audit").contains("Join"),
      "geo_grid_audit needs no join")
    // evt_freshness: one scan into the (type×day) frame; the watermark is
    // a window over that bounded frame, never a scalar bind on the facts
    assert(shuffleCount(plans("evt_freshness")) <= 4,
      s"evt_freshness must pre-aggregate into the day frame:\n${plans("evt_freshness")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("evt_freshness")).size === 1,
      "evt_freshness reads events exactly once")
    assert(!plans("evt_freshness").contains("BroadcastNestedLoopJoin"),
      "the watermark must not become a scalar bind")
    // evt_lifecycle: (user,week) distinct collapse + user lag window +
    // weekly frame (the churn identity lags the bounded frame, the one
    // empty-partition window)
    assert(shuffleCount(plans("evt_lifecycle")) <= 4,
      s"evt_lifecycle must stay on the weekly frame:\n${plans("evt_lifecycle")}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plans("evt_lifecycle")).size === 1,
      "evt_lifecycle reads events exactly once")
    // text_novelty: gram-keyed first-seen aggregate + credit join on the
    // SAME gram partitioning + one doc rollup — keyed equi-joins only
    assert(!plans("text_novelty").contains("BroadcastNestedLoopJoin") &&
      !plans("text_novelty").contains("CartesianProduct"),
      "text_novelty must stay keyed")
    assert(shuffleCount(plans("text_novelty")) <= 5,
      s"text_novelty exchange budget:\n${plans("text_novelty")}")
    // geo_antimeridian: one entity-keyed exchange (the way-assembly
    // shape); the gap scan is in-row array work
    assert(shuffleCount(plans("geo_antimeridian")) <= 2,
      s"geo_antimeridian is one entity collapse:\n${plans("geo_antimeridian")}")
    assert(!plans("geo_antimeridian").contains("Join"),
      "geo_antimeridian needs no join")
  }

  test("round-14d keys: geo_way_area one agg exchange, mm_gif scan-only, " +
    "minor_versions_cs keyed equi-joins") {
    // geo_way_area: ruleset is pure boolean columns over one scan + one
    // 27-key partial aggregate
    assert(shuffleCount(plans("geo_way_area")) <= 1,
      s"geo_way_area is one scan + one agg exchange:\n${plans("geo_way_area")}")
    assert(!plans("geo_way_area").contains("Join"),
      "geo_way_area needs no join")
    // mm_gif: per-row codec work in mapPartitions — a pure scan
    assert(shuffleCount(plans("mm_gif")) === 0,
      s"mm_gif must stay scan-only:\n${plans("mm_gif")}")
    // minor_versions_cs: the binned interval join must stay a keyed
    // equi-join (node_id, bin) — never an all-pairs shape — and the
    // run-group window + per-run aggregate ride bounded exchanges
    assert(!plans("minor_versions_cs").contains("BroadcastNestedLoopJoin") &&
      !plans("minor_versions_cs").contains("CartesianProduct"),
      "minor_versions_cs must join on (node_id, bin)")
    assert(shuffleCount(plans("minor_versions_cs")) <= 7,
      s"minor_versions_cs exchange budget:\n${plans("minor_versions_cs")}")
  }
}
