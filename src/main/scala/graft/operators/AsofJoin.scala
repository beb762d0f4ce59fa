package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row with
  * `right.ts <= left.ts` per key — the temporal lookup behind snapshot
  * enrichment (e.g. "which changeset/boundary/rate was in force at this
  * edit's timestamp").
  *
  * Spark has no native as-of join; the naive form is a range theta-join
  * (quadratic blowup per key). This operator uses the union + ordered
  * last_value pattern instead: tag both sides, union, ONE shuffle on the
  * key, one window sort, carry the right side's values forward, keep left
  * rows. Cost is sort-of-union — linear, skew-safe under AQE, and never
  * materializes a pair explosion.
  * Callers: [[Contributions.refPositions]] (every way geometry, batch,
  * minor-version and update path), `Contributions.withMemberGeometries`,
  * `OsmUpdater.relationGeoms` and the Temporal keys.
  */
object AsofJoin {

  /** @param left      probe side; every left row is kept
    * @param right     reference side (values carried forward in time)
    * @param key       equality key column (present on both sides; a
    *                  composite key is one struct column)
    * @param leftTs    left timestamp column
    * @param rightTs   right timestamp column
    * @param valueCols right columns to attach to each left row
    * @param tieBreak  right columns ordering right rows of one timestamp,
    *                  ascending: a version column picks the highest
    */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, valueCols: Seq[String],
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
    // All matched right columns travel as ONE struct so the carry is
    // row-atomic: a right row whose value column is legitimately NULL must
    // yield NULL (not a back-fill from an older right row), and all value
    // columns must come from the SAME right row. The struct itself is
    // non-null for every right row, so last(ignoreNulls) picks whole rows
    // (tie-break columns ride in it too).
    val ties = tieBreak.indices.map(i => s"__tie$i")
    val rvals = struct((valueCols.map(col) ++
      tieBreak.zip(ties).map { case (c, t) => col(c).as(t) }): _*).as("__rvals")
    val r = right.select(col(key), col(rightTs).as("__ts"), lit(0).as("__side"), rvals)
    // right rows sort before left rows at equal ts → "<=" semantics
    val w = Window.partitionBy(key)
      .orderBy((col("__ts") +: col("__side") +: ties.map(t => col("__rvals").getField(t))): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leftCols = left.columns
    val unioned = l.select(
      (col(key) +: col("__ts") +: col("__side") +:
        (leftCols.filter(_ != key).map(col) :+
          lit(null).cast(r.schema("__rvals").dataType).as("__rvals"))): _*)
      .unionByName(r.select(
        (col(key) +: col("__ts") +: col("__side") +:
          (leftCols.filter(_ != key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
            col("__rvals"))): _*))
    val carried = unioned
      .withColumn("__rvals", last(col("__rvals"), ignoreNulls = true).over(w))
    val unpacked = valueCols.foldLeft(carried) { (df, c) =>
      df.withColumn(c, col("__rvals").getField(c))
    }
    unpacked.filter(col("__side") === 1).drop("__ts", "__side", "__rvals")
  }

  /** NEAREST as-of join with tolerance (pandas `merge_asof(direction=
    * 'nearest')`): each left row picks the right row minimizing |Δts|,
    * ties to the EARLIER right row, and matches farther than `tolerance`
    * are dropped (NULL columns) — the sensor-fusion / price-mark lookup
    * where "latest before" is wrong when a fresher later row exists.
    *
    * Same no-pair-explosion discipline as [[asof]]: tag, union, ONE
    * shuffle on the key, one window SORT — the backward carry
    * (`last` over unbounded-preceding) and the forward carry (`first`
    * over unbounded-following) are two frames over the SAME sorted
    * window, so Spark plans one exchange + one sort for both. A right
    * row at exactly the left timestamp sorts before the left row and is
    * matched backward at Δ = 0.
    */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, valueCols: Seq[String],
      tolerance: Long): DataFrame = {
    val l = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
    val rvals = struct((col(rightTs).as("__rts") +: valueCols.map(col)): _*)
      .as("__rvals")
    val r = right.select(col(key), col(rightTs).as("__ts"),
      lit(0).as("__side"), rvals)
    val ord = Window.partitionBy(key).orderBy(col("__ts"), col("__side"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val leftCols = left.columns
    val unioned = l.select(
      (col(key) +: col("__ts") +: col("__side") +:
        (leftCols.filter(_ != key).map(col) :+
          lit(null).cast(r.schema("__rvals").dataType).as("__rvals"))): _*)
      .unionByName(r.select(
        (col(key) +: col("__ts") +: col("__side") +:
          (leftCols.filter(_ != key).map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)) :+
            col("__rvals"))): _*))
    val picked = unioned
      .withColumn("__prev", last(col("__rvals"), ignoreNulls = true).over(back))
      .withColumn("__next", first(col("__rvals"), ignoreNulls = true).over(fwd))
      .filter(col("__side") === 1)
      .withColumn("__dp", col("__ts") - col("__prev.__rts"))
      .withColumn("__dn", col("__next.__rts") - col("__ts"))
      .withColumn("__pick",
        when(col("__prev").isNotNull &&
          (col("__next").isNull || col("__dp") <= col("__dn")), col("__prev"))
          .otherwise(col("__next")))
      .withColumn("__delta",
        abs(col("__ts") - col("__pick.__rts")))
      .withColumn("__pick",
        when(col("__delta") <= tolerance, col("__pick"))
          .otherwise(lit(null).cast(r.schema("__rvals").dataType)))
    val unpacked = valueCols.foldLeft(picked) { (df, c) =>
      df.withColumn(c, col("__pick").getField(c))
    }
    unpacked
      .withColumn("delta_us", when(col("__pick").isNotNull, col("__delta")))
      .drop("__ts", "__side", "__rvals", "__prev", "__next", "__dp", "__dn",
        "__pick", "__delta")
  }
}
