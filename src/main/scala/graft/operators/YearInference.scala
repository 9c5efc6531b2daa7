package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Description
import graft.operators.FillStage.noteAppend

/** W1/W2 — natural sort + group-scoped 2-digit→4-digit year inference
  * (reference: BatchUpdate.py:272-298 sort, :327-413 "Chron I smart guess").
  *
  * Two implementations:
  *
  *  - [[inferWindowed]] — declarative: `first/last(..., ignoreNulls)` over
  *    an MMS-ID-partitioned window plus a pure `when`-tree for the century
  *    arithmetic. One shuffle (a hash partition by group key, or none when
  *    the input is already partitioned on it), whole-stage codegen, scales
  *    to any number of groups. Neighbor years are the ORIGINAL values.
  *
  *  - [[inferSequential]] — exact-fidelity: the reference mutates rows
  *    in place while scanning (BatchUpdate.py:380-411), so a later row's
  *    backward scan can see an earlier row's FIXED value. For monotone
  *    year sequences the two formulations agree (the arithmetic is
  *    translation-invariant), but pathological non-monotone groups can
  *    diverge (e.g. years 1950,'60,'55). This variant reproduces the
  *    sequential semantics via `groupByKey(...).flatMapGroups` with a
  *    sorted in-group iterator — still fully parallel ACROSS groups,
  *    which is the actual scale axis (groups = journal titles, each
  *    small).
  */
object YearInference {

  /** W1 — natural sort key columns (MMS ID, series#, volume#, Description).
    * The reference's Timsort is stable; Spark's sort is not, so callers
    * should include a unique tie-break column (e.g. Barcode) for
    * deterministic output. */
  def sortKeys(df: DataFrame, tieBreak: Seq[String] = Seq("Barcode")): Seq[Column] = {
    // no Description -> sort on the group key alone (the reference's
    // sort_key does the same, BatchUpdate.py:289-293)
    val descKeys =
      if (df.columns.contains("Description")) {
        val desc = col("Description")
        Seq(Description.seriesKey(desc), Description.volumeKey(desc), desc)
      } else Seq.empty
    (col("MMS ID") +: descKeys) ++ tieBreak.filter(df.columns.contains).map(col)
  }

  /** W1 as a global sort (range partitioned, spillable). A pipeline that
    * also runs W2 should not pay two exchanges: range-partition on the
    * group key first, so that the window's clustering and this sort's
    * ordering both ride that one exchange (a range partitioning on
    * `MMS ID` satisfies any ordering that starts with `MMS ID`), and sort
    * on key columns computed once, as [[SplitStage]] does. */
  def naturalSort(df: DataFrame, tieBreak: Seq[String] = Seq("Barcode")): DataFrame =
    df.orderBy(sortKeys(df, tieBreak): _*)

  // ---------------------------------------------------------------------
  // Century arithmetic shared by both variants (BatchUpdate.py:371-413).
  // All inputs/outputs are strings, as in the reference's data model.
  // ---------------------------------------------------------------------

  /** Pure Scala core: given the original chronI, its leading digits, and
    * the nearest original 4-digit neighbor years (null = unknown), return
    * the fixed chronI (or null to signal the error path). */
  private[operators] def fixChronI(
      chronI: String,
      year: String,
      prevYear: String,
      nextYear: String): String = {
    val digits = 4 - year.length
    if (prevYear != null && nextYear != null) {
      val prev = prevYear.toInt
      val next = nextYear.toInt
      val cand1 = (prevYear.take(digits) + year).toInt
      val cand2 = (nextYear.take(digits) + year).toInt
      if (prev <= cand1 && cand1 <= next) prevYear.take(digits) + chronI
      else if (prev <= cand2 && cand2 <= next) nextYear.take(digits) + chronI
      else {
        // Adjacent-century fallback: pick the century whose reading is
        // closest to the average of the boundary years; first minimum
        // wins, like Python's list.index(min) (BatchUpdate.py:384-389).
        val base = prevYear.take(2).toInt
        val cents = Seq(base - 1, base, base + 1)
        val avg = (prev + next) / 2.0
        val best = cents.minBy(c => math.abs(avg - (c * 100 + year.toInt)))
        best.toString + chronI
      }
    } else if (prevYear == null && nextYear != null) {
      val next = nextYear.toInt
      val nd = nextYear.takeRight(2).toInt
      val cur = year.toInt
      val y = if (cur > nd) next - nd - 100 + cur else next - nd + cur
      y.toString // replaces the whole field (BatchUpdate.py:400)
    } else if (prevYear != null && nextYear == null) {
      val prev = prevYear.toInt
      val pd = prevYear.takeRight(2).toInt
      val cur = year.toInt
      val y = if (pd > cur) prev - pd + 100 + cur else prev - pd + cur
      y.toString // replaces the whole field (BatchUpdate.py:411)
    } else null // error path (BatchUpdate.py:412-413)
  }

  /** The same century arithmetic as a pure Column `when`-tree, so the
    * windowed variant stays inside whole-stage codegen. */
  private def fixChronICol(chronI: Column, year: Column, prev: Column, next: Column): Column = {
    val digits = lit(4) - length(year)
    val prevI = prev.cast("int")
    val nextI = next.cast("int")
    val yearI = year.cast("int")
    val prevPrefix = prev.substr(lit(1), digits)
    val nextPrefix = next.substr(lit(1), digits)
    val cand1 = concat(prevPrefix, year).cast("int")
    val cand2 = concat(nextPrefix, year).cast("int")
    val base = substring(prev, 1, 2).cast("int")
    val avg = (prevI + nextI).cast("double") / lit(2.0)
    def diff(cent: Column): Column = abs(avg - (cent * 100 + yearI).cast("double"))
    val dM1 = diff(base - 1); val d0 = diff(base); val dP1 = diff(base + 1)
    // first minimum wins: c-1 unless strictly beaten, then c, then c+1
    val bestCent =
      when(dM1 <= d0 && dM1 <= dP1, base - 1)
        .when(d0 <= dP1, base)
        .otherwise(base + 1)
    val nd = substring(next, -2, 2).cast("int")
    val pd = substring(prev, -2, 2).cast("int")
    when(prev.isNotNull && next.isNotNull,
      when(prevI <= cand1 && cand1 <= nextI, concat(prevPrefix, chronI))
        .when(prevI <= cand2 && cand2 <= nextI, concat(nextPrefix, chronI))
        .otherwise(concat(bestCent.cast("string"), chronI)))
      .when(prev.isNull && next.isNotNull,
        when(yearI > nd, nextI - nd - 100 + yearI)
          .otherwise(nextI - nd + yearI).cast("string"))
      .when(prev.isNotNull && next.isNull,
        when(pd > yearI, prevI - pd + 100 + yearI)
          .otherwise(prevI - pd + yearI).cast("string"))
      .otherwise(lit(null).cast("string"))
  }

  /** Declarative W2: nearest original 4-digit neighbor years via
    * `last/first(..., ignoreNulls = true)` over unbounded frames, then the
    * `when`-tree. Requires the natural-sort key for in-group order; emits
    * the reference's error note when no neighbor exists. */
  def inferWindowed(
      df: DataFrame,
      mmsCol: String = "MMS ID",
      chronICol: String = "Chron I",
      notesCol: String = "Notes",
      orderCols: DataFrame => Seq[Column] = d => sortKeys(d)): DataFrame = {
    val ord = orderCols(df)
    val w = Window.partitionBy(col(mmsCol)).orderBy(ord: _*)
    // Materialize the probe + neighbor years as real columns: the Window
    // node is a projection barrier, so `__yr` is computed once per row and
    // the big `when`-tree references cheap attributes. Inlining the
    // regexp_extract expression directly would let CollapseProject
    // duplicate it into every one of its ~28 references (measured 6.5 s →
    // 0.3 s on 100k rows).
    val year = col("__yr")
    val four = when(length(year) === 4, year)
    val needsFix = length(year) > 0 && length(year) < 4
    val fixed = fixChronICol(col(chronICol), year, col("__prev"), col("__next"))
    val (needs, fix) = (col("__needs"), col("__fixed"))
    // one projection per barrier (each is one analyzer pass): the probe,
    // the window (both frames share one spec, so one Window node), the
    // fix, then the in-place rewrite of Notes and Chron I
    val probed = df.withColumn("__yr", Description.leadingDigits(col(chronICol)))
    val neighbours = Description.setColumns(probed, Seq(
      "__prev" -> last(four, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)),
      "__next" -> first(four, ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing))))
    val fixes = Description.setColumns(neighbours, Seq(
      "__fixed" -> when(needsFix, fixed),
      "__needs" -> needsFix))
    Description.setColumns(fixes, Seq(
      notesCol -> when(needs && fix.isNull,
        noteAppend(col(notesCol), lit("Err: Problem interpreting Chron I")))
        .otherwise(col(notesCol)),
      chronICol -> when(needs && fix.isNotNull, fix).otherwise(col(chronICol))),
      drop = Set("__yr", "__prev", "__next", "__fixed", "__needs"))
  }

  /** Exact-fidelity W2: per-group sequential scan with in-place updates,
    * byte-compatible with the reference's mutate-while-scanning behavior.
    * Groups are processed independently and in parallel (one shuffle on
    * the group key); within a group the rows are sorted and scanned like
    * BatchUpdate.py:327-413. Row width is preserved via a positional
    * (values, keys) encoding so any schema passes through. */
  def inferSequential(
      df: DataFrame,
      mmsCol: String = "MMS ID",
      chronICol: String = "Chron I",
      notesCol: String = "Notes",
      tieBreak: Seq[String] = Seq("Barcode")): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}

    val schema = df.schema
    require(Seq(mmsCol, chronICol, notesCol).forall(schema.fieldNames.contains),
      s"inferSequential needs $mmsCol/$chronICol/$notesCol columns")
    val mmsIdx = schema.fieldIndex(mmsCol)
    val chronIdx = schema.fieldIndex(chronICol)
    val notesIdx = schema.fieldIndex(notesCol)
    val descIdx = schema.fieldNames.indexOf("Description")
    val tieIdx = tieBreak.filter(schema.fieldNames.contains).map(schema.fieldIndex)

    implicit val rowEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(schema))
    implicit val strEnc = Encoders.STRING

    val yearPat = """^(\d+)""".r
    def leading(s: String): String =
      if (s == null) "" else yearPat.findPrefixMatchOf(s).map(_.group(1)).getOrElse("")

    val volRegex = Description.volPattern.r
    def volKey(s: String): (Int, Int) =
      if (s == null) (0, 0)
      else volRegex.findFirstMatchIn(s).map { m =>
        (Option(m.group(1)).map(_.toInt).getOrElse(0),
         Option(m.group(2)).map(_.toInt).getOrElse(0))
      }.getOrElse((0, 0))

    df.as[Row](rowEnc)
      // prefix-disambiguated key: null and "" are DIFFERENT groups (the
      // reference never merges them; inferWindowed's partitionBy agrees)
      .groupByKey(r => Option(r.get(mmsIdx)).map("v" + _).getOrElse("n"))
      .flatMapGroups { (_, it) =>
        val rows = it.map(_.toSeq.toArray).toArray
        // in-group natural sort (W1 order is a precondition, :331)
        val sorted = rows.sortBy { a =>
          val d = if (descIdx >= 0) Option(a(descIdx)).map(_.toString).orNull else null
          val (s, v) = volKey(d)
          (s, v, if (d == null) "" else d,
            tieIdx.map(i => Option(a(i)).map(_.toString).getOrElse("")).mkString(" "))
        }
        var i = 0
        while (i < sorted.length) {
          val chron = Option(sorted(i)(chronIdx)).map(_.toString).getOrElse("")
          val year = leading(chron)
          if (year.nonEmpty && year.length < 4) {
            // backward scan — sees already-FIXED values, like the reference
            var prev: String = null
            var j = i - 1
            while (prev == null && j >= 0) {
              val y = leading(Option(sorted(j)(chronIdx)).map(_.toString).getOrElse(""))
              if (y.length == 4) prev = y
              j -= 1
            }
            var next: String = null
            j = i + 1
            while (next == null && j < sorted.length) {
              val y = leading(Option(sorted(j)(chronIdx)).map(_.toString).getOrElse(""))
              if (y.length == 4) next = y
              j += 1
            }
            val fixed = fixChronI(chron, year, prev, next)
            if (fixed != null) sorted(i)(chronIdx) = fixed
            else {
              val notes = Option(sorted(i)(notesIdx)).map(_.toString).getOrElse("")
              sorted(i)(notesIdx) =
                (if (notes.isEmpty) "" else notes + "; ") + "Err: Problem interpreting Chron I"
            }
          }
          i += 1
        }
        sorted.iterator.map(a => Row.fromSeq(a.toSeq))
      }(rowEnc)
      .toDF(scala.collection.immutable.ArraySeq.unsafeWrapArray(schema.fieldNames): _*)
  }
}
