package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Description
import graft.model.{AlmaSchema, ColumnRegistry}

/** The `split` stage (reference: BatchUpdate.py:189-423) as one composed
  * DataFrame pipeline:
  *
  *   checkColumns → append Pattern/Notes → fill defaults → parse
  *   descriptions (R1) → natural sort (W1) → barcode checks → year
  *   inference (W2) → Chron J canonicalization (R2)
  *
  * Plan shape (windowed W2, the default): the raw scan is range-partitioned
  * on `MMS ID` before anything else, so the range sampling job reads only
  * the scan. That one exchange serves both the W2 window (its clustering on
  * `MMS ID`) and W1's global order (a range partitioning on `MMS ID`
  * satisfies an ordering that starts with `MMS ID`). Everything after it —
  * parse, fills, checks, the one `Sort` (series#, volume#, Description,
  * Barcode within the group), the window and R2 — runs in that stage, and
  * the final `orderBy` finds its order already in place. A group lands in
  * one partition, as it does under any group-key partitioning.
  */
object SplitStage {

  /** `exactSequentialFidelity = false` (default): year inference runs as
    * the codegen'd window formulation over the one range exchange above.
    * `true` opts into the bug-compatible `flatMapGroups` re-enactment of
    * the reference's sequential loop (identical output whenever groups
    * arrive in input order, as in the golden fixture; kept for
    * byte-fidelity audits), with its own group shuffle and a global sort
    * after. */
  def apply(
      df: DataFrame,
      registry: ColumnRegistry = AlmaSchema.default,
      exactSequentialFidelity: Boolean = false,
      novBugCompat: Boolean = false): DataFrame = {

    // checkColumns: verify mandatory presence and APPEND missing add-in
    // columns, but keep every input column — only format() projects down
    // to the registry; the reference's split preserves extras and appends
    // (BatchUpdate.py:652-664). Pattern + Notes are always appended when
    // absent (BatchUpdate.py:202-212).
    val (_, toAdd) = registry.resolve(df.columns.toSeq)
    val appended = toAdd.map(_.name) ++
      Seq("Pattern", "Notes").filterNot(c => df.columns.contains(c) || toAdd.exists(_.name == c))
    val hasDescription = (df.columns.toSeq ++ appended).contains("Description")
    val windowed = hasDescription && !exactSequentialFidelity
    val source = if (windowed) df.repartitionByRange(col("MMS ID")) else df
    val projected = source.select(
      (df.columns.toSeq.map(col) ++ appended.map(lit("").as(_))): _*)

    val filled = FillStage.applyDefaults(registry)(projected)
    def canonical(d: DataFrame): DataFrame =
      d.withColumn("Chron J", Description.canonicalizeChronJ(col("Chron J"), novBugCompat))
    if (!hasDescription)
      // no Description: W1 sorts on the group key and the tie-break alone
      YearInference.naturalSort(FillStage.barcodeChecks(filled))
    else {
      val checked = FillStage.barcodeChecks(Description.withParsedDescription(filled))
      if (windowed) {
        // W1's in-group keys, computed once as columns; the window orders
        // by them without repeating its partition key
        val desc = col("Description")
        val keyed = Description.setColumns(checked, Seq(
          "__ser" -> Description.seriesKey(desc),
          "__vol" -> Description.volumeKey(desc)))
        val keys = Seq(col("__ser"), col("__vol"), desc, col("Barcode"))
        canonical(YearInference.inferWindowed(keyed, orderCols = _ => keys))
          // W1's user-visible global order for the written file
          .orderBy(col("MMS ID") +: keys: _*)
          .drop("__ser", "__vol")
      } else
        YearInference.naturalSort(canonical(YearInference.inferSequential(checked)))
    }
  }
}
