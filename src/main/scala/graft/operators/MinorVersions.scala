package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Minor versions — member-induced contribution rows
  * (ContributionsAvroConverter.java:90-97): when a way's member node
  * changes while the way's own version is unchanged, the reference emits a
  * new contribution row with the same `osm_version` and an incremented
  * `osm_minor_version` (reset to 0 on every real version).
  *
  * Spark-first: explode way membership, shuffle-join node edits on node
  * id restricted to the way-version validity interval, union with the
  * major rows, then `minor = row_number within (way, version) - 1`. The
  * join is the same node-id partitioning the way-assembly join uses; no
  * range explosion (each node edit lands in exactly one version interval).
  * Rows here carry no geometry: the update path rebuilds a minor row's
  * geometry through the one as-of ref resolver,
  * [[Contributions.refPositions]], as every way geometry does.
  */
object MinorVersions {

  /** Relation minor versions — the second cascade level: a relation gets a
    * minor version whenever a member WAY changes (its own major version OR
    * a node-induced way minor version), while the relation's major version
    * is unchanged. Feed `wayTimeline` with the way's full contribution
    * timeline ([[compute]] output) to propagate
    * node → way → relation.
    *
    * @param relVersions (rel_id, osm_version, valid_from, way_ids)
    * @param wayTimeline (way_id, ts) — member-way change timestamps
    */
  def relationMinors(relVersions: DataFrame, wayTimeline: DataFrame): DataFrame =
    compute(
      relVersions.select(col("rel_id").as("way_id"), col("osm_version"),
        col("valid_from"), col("way_ids").as("refs")),
      wayTimeline.select(col("way_id").as("node_id"), col("ts")))
      .withColumnRenamed("way_id", "rel_id")

  /** Changeset-granularity relation minors — [[computeChangesets]] over
    * the relation→member-way cascade (the reference's ContributionsRelation
    * runs the same ContributionsEntity queue, so the run-grouping and
    * same-changeset fold rules are identical one level up).
    *
    * @param relVersions (rel_id, osm_version, valid_from, changeset, way_ids)
    * @param wayTimeline (way_id, ts, changeset)
    */
  def relationMinorsChangesets(relVersions: DataFrame,
      wayTimeline: DataFrame): DataFrame =
    computeChangesets(
      relVersions.select(col("rel_id").as("way_id"), col("osm_version"),
        col("valid_from"), col("changeset"), col("way_ids").as("refs")),
      wayTimeline.select(col("way_id").as("node_id"), col("ts"), col("changeset")))
      .withColumnRenamed("way_id", "rel_id")

  /** The member-edit ∈ version-interval join runs BINNED: joining exploded
    * refs to node edits on `node_id` alone multiplies every edit of a node
    * by EVERY version interval of every way containing it before the
    * interval filter sees a row (1.19 B intermediate rows for an 83 M
    * output at sf1 — ×14 wasted). Adding a coarse time-bin to the join key
    * keeps only same-epoch pairs: each interval explodes into the bins it
    * overlaps, each edit into exactly one, and the exact open-interval
    * filter (unchanged) trims the ≈output-sized remainder — same rows,
    * order-of-magnitude less join traffic. Bin width self-tunes to the
    * mean version-interval length (span · ways / versions), so a typical
    * interval spans O(1) bins and the per-interval explosion stays
    * constant-factor at any scale; the two 1-row sizing aggregates are
    * driver-scale.
    *
    * @param wayVersions (way_id, osm_version, valid_from, refs) — major versions
    * @param nodeEdits   (node_id, ts) — member-node change events
    */
  def compute(wayVersions: DataFrame, nodeEdits: DataFrame): DataFrame = {
    val byWay = Window.partitionBy("way_id").orderBy("osm_version")
    val vers = wayVersions
      .withColumn("valid_to", lead("valid_from", 1).over(byWay))
      // the timeline is re-consumed by the sizing aggregate, the member
      // explosion, and the major rows — pin it once
      .localCheckpoint(true)
    val memberEdits = editsInIntervals(vers,
      nodeEdits.select(col("node_id"), col("ts")))
      .withColumn("trigger", lit("MINOR_GEOMETRY"))
    val major = vers.select(col("way_id"), col("osm_version"),
      col("valid_from").as("ts"), lit("MAJOR").as("trigger"))
    major.unionByName(memberEdits)
      .withColumn("osm_minor_version",
        row_number().over(
          Window.partitionBy("way_id", "osm_version").orderBy("ts", "trigger")) - 1)
  }

  /** The binned member-edit ∈ version-interval join shared by [[compute]]
    * and [[computeChangesets]]. `vers` must carry (way_id, osm_version,
    * valid_from, valid_to, refs); `nodeEdits` carries (node_id, ts) plus
    * any passthrough columns, all preserved in the result next to
    * (way_id, osm_version, ts).
    */
  private def editsInIntervals(vers: DataFrame, nodeEdits: DataFrame): DataFrame = {
    val extras = nodeEdits.columns.filterNot(Set("node_id", "ts")).toSeq
    val mm = nodeEdits.agg(min("ts"), max("ts")).collect().head
    // empty edit frame: degenerate 1-bin layout, the join produces zero
    // rows with the right schema — no special case needed
    val lo = if (mm.isNullAt(0)) 0L else mm.get(0).asInstanceOf[Number].longValue
    val hi = if (mm.isNullAt(0)) 0L else mm.get(1).asInstanceOf[Number].longValue
    val sz = vers.agg(count(lit(1)), countDistinct("way_id")).collect().head
    val (nVers, nWays) = (sz.getLong(0), sz.getLong(1) max 1L)
    // ≈4 bins per mean interval, bounded: at least 16 (tiny frames),
    // at most 4096 (join-key cardinality stays shuffle-friendly)
    val nBins = (4L * nVers / nWays).max(16L).min(4096L)
    val w = ((hi - lo) / nBins + 1L).max(1L)
    val binMax = (hi - lo) / w
    val binned = vers
      .select(col("way_id"), col("osm_version"), col("valid_from"),
        col("valid_to"), explode(col("refs")).as("node_id"))
      // clamp into [0, binMax]: intervals outside the edit span keep a
      // degenerate ascending range and the exact filter drops them
      .withColumn("b0", least(greatest(
        expr(s"(valid_from - ${lo}L) div ${w}L"), lit(0L)), lit(binMax)))
      .withColumn("b1", when(col("valid_to").isNull, lit(binMax))
        .otherwise(least(greatest(
          expr(s"(valid_to - ${lo}L) div ${w}L"), col("b0")), lit(binMax))))
      .withColumn("bin", explode(sequence(col("b0"), col("b1"))))
    nodeEdits.withColumn("bin", expr(s"(ts - ${lo}L) div ${w}L"))
      .join(binned, Seq("node_id", "bin"))
      .filter(col("ts") > col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select((Seq("way_id", "osm_version", "ts") ++ extras).map(col): _*)
  }

  /** CHANGESET-granularity minor versions — the reference's actual
    * grouping (ContributionsEntity.java:26 orders the member queue by
    * (timestamp, changeset); computeNext:123-130 consumes the maximal run
    * of member edits sharing a changeset into ONE minor whose timestamp is
    * the LAST consumed edit's; member edits in the same changeset as the
    * way's own version fold into the major row and never form a minor —
    * initMembers:89-91 `peek().changeset() == changeset` advancement). The
    * per-edit [[compute]] is the finer-grained engine face; this is the
    * reference-faithful one, pinned against the reference's own unit
    * fixtures (ContributionsWayTest) in MinorVersionsParitySpec.
    *
    * Spark shape: the same binned interval join, then one keyed window
    * (run-break detection by changeset over (ts, changeset) order +
    * running sum) and one hash aggregate per run — no new shuffle keys
    * beyond compute's.
    *
    * @param wayVersions (way_id, osm_version, valid_from, changeset, refs)
    * @param nodeEdits   (node_id, ts, changeset)
    */
  def computeChangesets(wayVersions: DataFrame, nodeEdits: DataFrame): DataFrame = {
    val byWay = Window.partitionBy("way_id").orderBy("osm_version")
    val vers = wayVersions
      .withColumn("valid_to", lead("valid_from", 1).over(byWay))
      .localCheckpoint(true)
    val edits = editsInIntervals(vers.drop("changeset"),
      nodeEdits.withColumnRenamed("changeset", "edit_cs"))
      .join(vers.select(col("way_id"), col("osm_version"),
        col("changeset").as("major_cs")), Seq("way_id", "osm_version"))
      // same-changeset member edits belong to the major contribution
      .filter(col("edit_cs") =!= col("major_cs"))
      // collapse duplicate (ts, changeset) edit events up front: they can
      // never straddle a run boundary, and with one row per (ts, cs) the
      // window's (ts, cs) order is TOTAL within a partition — run
      // grouping becomes deterministic by construction in ANY engine
      // (two separate window sorts over tied rows can disagree — that
      // exact hazard split 10 runs in the first sf1 oracle sweep)
      .groupBy("way_id", "osm_version", "ts", "edit_cs")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("way_id", "osm_version").orderBy("ts", "edit_cs")
    val runs = edits
      .withColumn("prev_cs", lag("edit_cs", 1).over(w))
      .withColumn("brk",
        when(col("prev_cs").isNull || col("prev_cs") =!= col("edit_cs"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("way_id", "osm_version", "grp")
      .agg(max("ts").as("ts"), min("edit_cs").as("changeset"),
        sum("cnt").as("n_edits"))
    val majors = vers.select(col("way_id"), col("osm_version"),
      col("valid_from").as("ts"), col("changeset"),
      lit(0L).as("n_edits"), lit(0L).as("grp"))
    majors.unionByName(runs.select("way_id", "osm_version", "ts",
      "changeset", "n_edits", "grp"))
      // grp is the run order by construction (majors at 0, runs from 1) —
      // ordering by it is deterministic even when two runs share a max ts
      .withColumn("osm_minor_version",
        row_number().over(
          Window.partitionBy("way_id", "osm_version").orderBy("grp")) - 1)
      .drop("grp")
  }
}
