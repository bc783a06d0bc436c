package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's transform vocabulary (SURVEY.md §2b-§2f) as pure
  * `DataFrame => DataFrame` combinators.
  *
  * Everything here is declarative Column algebra: Catalyst keeps filters and
  * projections pushed into the scan, and every aggregation gets a map-side
  * partial + final plan for free, which is what makes these hold at cluster
  * scale. No UDFs — all expressions stay inside whole-stage codegen.
  */
object EtlOps {

  /** P1 — rename a column (reference: `.rename(columns={'period':'date'})`,
    * EIA930PipelineHourlyData.py:100).
    */
  def renameColumn(from: String, to: String)(df: DataFrame): DataFrame =
    df.withColumnRenamed(from, to)

  /** P2 — lossy timestamp parse: invalid strings become NULL, matching
    * pandas `to_datetime(errors='coerce')` (EIA930PipelineHourlyData.py:101).
    * Spark 4 runs ANSI mode by default, so "coerce" must be an explicit
    * try_-cast — a plain cast would fail the job on the first bad row.
    */
  def lossyTimestamp(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, try_to_timestamp(col(src)))

  /** P3 — snap a date to month end, matching `pd.offsets.MonthEnd(0)`
    * (EIA814PipelineMonthlyData.py:66).
    */
  def monthEnd(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, last_day(col(src)))

  /** P4 — time-cutoff filter. The reference slices positionally
    * (`iloc[:idx+1][:-1]`, EIA930PipelineHourlyData.py:102) relying on
    * API-side sort order; the relational equivalent is a half-open predicate,
    * which is order-independent and partition-prunable at scale.
    */
  def cutoffBefore(ts: String, cutoff: java.sql.Timestamp)(df: DataFrame): DataFrame =
    df.filter(col(ts) < lit(cutoff))

  /** P5/J1 — semi-join filter against a small reference table
    * (EIA930PipelineHourlyData.py:104-106). The dim side auto-broadcasts
    * under `autoBroadcastJoinThreshold`, so this is shuffle-free for the
    * fact side at any scale.
    */
  def semiJoinFilter(ref: DataFrame, factKey: String, refKey: String)(
      df: DataFrame): DataFrame =
    df.join(broadcast(ref.select(col(refKey))), col(factKey) === col(refKey), "left_semi")

  /** P6 — drop rows with NULLs in the given key columns
    * (`.dropna(subset=['price'])`, EIA7APipelineQuarterlyData.py:80).
    */
  def dropNullKeys(keys: String*)(df: DataFrame): DataFrame =
    df.na.drop(keys.toSeq)

  /** P7/P15/F8 — keep rows whose column parses as a number; the parse itself
    * is `cast("double")` = pandas `to_numeric(errors='coerce')`
    * (EIA7APipelineQuarterlyData.py:81, EIA930PipelineHourlyData.py:114).
    */
  def numericParsable(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, expr(s"try_cast($src AS DOUBLE)"))
      .filter(col(dst).isNotNull)

  /** P8 — null-rejecting inequality predicate
    * (`.query('x != "Total"')`, EIA7APipelineQuarterlyData.py:86).
    */
  def notEqual(c: String, v: String)(df: DataFrame): DataFrame =
    df.filter(col(c) =!= v)

  /** P9 — fill NULLs with a sentinel
    * (`.fillna({'mineCountyName': 'Not Specified'})`,
    * EIA7APipelineQuarterlyData.py:88).
    */
  def fillNulls(replacements: Map[String, String])(df: DataFrame): DataFrame =
    df.na.fill(replacements)

  /** P10/F4 — "YYYY-Qn" quarter label (EIA7APipelineQuarterlyData.py:76). */
  def quarterLabel(d: Column): Column =
    concat(year(d).cast("string"), lit("-Q"), quarter(d).cast("string"))

  /** P10 — keep rows in one calendar quarter (EIA7APipelineQuarterlyData.py:90). */
  def quarterEquals(dateCol: String, label: String)(df: DataFrame): DataFrame =
    df.filter(quarterLabel(col(dateCol)) === label)

  /** P11/P13/P16/S5 — positional projection / reorder, by resolved names
    * (`iloc[:, 3:]` / `reindex`, OpenMeteoWeatherPipelineHourlyData.py:98,104).
    */
  def selectColumns(names: Seq[String])(df: DataFrame): DataFrame =
    df.select(names.map(col): _*)

  /** P12 — drop columns, ignoring missing ones (Spark `drop` already does)
    * (OpenMeteoWeatherPipelineHourlyData.py:105).
    */
  def dropColumns(names: String*)(df: DataFrame): DataFrame =
    df.drop(names.toSeq: _*)

  /** A2/A3 — group-sum then pivot wide over a fixed value set
    * (EIA930PipelineHourlyData.py:121-142; pivot values fixed by the sink
    * schema, databaseOperations.py:189-206). `dropIncomplete` reproduces the
    * post-pivot `dropna()` of A2. Fixed pivot values keep the plan static —
    * no driver-side distinct scan, which matters at scale.
    */
  def pivotSum(
      keys: Seq[String],
      pivotCol: String,
      pivotValues: Seq[String],
      valueCol: String,
      dropIncomplete: Boolean)(df: DataFrame): DataFrame = {
    val wide = df
      .groupBy(keys.map(col): _*)
      .pivot(pivotCol, pivotValues)
      .agg(ExactAgg.sumExact(col(valueCol)))
    val cleaned = if (dropIncomplete) wide.na.drop(pivotValues) else wide
    cleaned.orderBy(keys.map(col): _*)
  }

  /** U1/U2 — union of per-page / per-location frames by column name
    * (`pd.concat`, EIA930PipelineHourlyData.py:100). */
  def unionPages(pages: Seq[DataFrame]): DataFrame =
    pages.reduce(_ unionByName _)

  /** O5 — deterministic top-k: total order requires a unique tiebreak
    * (row order is not a DataFrame invariant, unlike pandas). Spark plans
    * this as TakeOrderedAndProject — per-partition top-k then a k-row merge
    * on the driver, no global sort, so it scales to any input size.
    */
  def topK(k: Int, ordering: Seq[Column])(df: DataFrame): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** Latest-wins merge upsert (SCD type 1): apply `updates` to `base` by
    * `keys`, keeping the row with the highest `versionCol` per key; on a
    * version tie the update wins. The batch-relational MERGE — inserts,
    * updates and untouched rows in ONE pass: union + per-key window, a
    * single shuffle on the merge keys, no table-format machinery, and
    * WindowGroupLimit keeps only the winning row per key before the final
    * projection. Both sides must be keyed uniquely per (keys, version) —
    * standard MERGE precondition (Spark/Delta reject multi-match too).
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
                  versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** CDC APPLY — [[mergeUpsert]] extended with tombstones: fold a
    * change-data-capture log of after-images tagged `I`/`U`/`D` in `opCol`
    * (ordered per key by `seqCol`) into a base snapshot. Per key the
    * LATEST change wins (ties break to the change side over base); a
    * latest-`D` drops the key entirely — including delete-then-reinsert
    * resurrections, which keep the reinserted row because the `I` carries
    * the later sequence. Untouched base rows pass through.
    *
    * One union + ONE key-partitioned window pass, whatever the op mix —
    * the Debezium/Delta-merge semantics without a mutable table: at 100 TB
    * the changelog is tiny next to the snapshot, and the shuffle carries
    * base+changes once (no per-op passes, no driver loop).
    */
  def cdcApply(base: DataFrame, changes: DataFrame, keys: Seq[String],
               seqCol: String, opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the snapshot is tagged with synthetic op/seq/_src/_rn columns — a
    // base that already carries any of them would be silently overwritten
    // (and the output would silently LOSE them, since all drop at the end)
    val reserved = Seq(opCol, seqCol, "_src", "_rn")
    val clash = base.columns.intersect(reserved)
    require(clash.isEmpty,
      s"base already has column(s) ${clash.mkString(", ")} — rename them " +
        "or pass different opCol/seqCol names")
    // fail loud on malformed changelog rows: a NULL op would win its
    // window then silently DELETE the key (NULL <> 'D' filters it out);
    // a NULL seq would sort below even the base snapshot (desc = NULLS
    // LAST) and be silently ignored
    val checked = changes
      .withColumn(opCol, when(col(opCol).isNull,
          raise_error(lit(s"cdcApply: $opCol contains NULLs — a change " +
            "without an op code cannot be applied")))
        .otherwise(col(opCol)))
      .withColumn(seqCol, when(col(seqCol).isNull,
          raise_error(lit(s"cdcApply: $seqCol contains NULLs — an " +
            "unordered change cannot be merged")))
        .otherwise(col(seqCol)))
    val tagged = base
      .withColumn(opCol, lit("I")).withColumn(seqCol, lit(Long.MinValue))
      .withColumn("_src", lit(0))
      .unionByName(checked.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col("_src").desc)
    // fail loud on duplicate (key, seq) pairs: two changelog rows tying on
    // seq would pick a row_number winner nondeterministically — an
    // after-image vs a delete could silently flip between runs. Detection
    // rides the SAME window spec as the winner pick (equal-seq changelog
    // rows are adjacent under (seq desc, _src desc) — base rows sort last
    // at Long.MinValue), so it shares the one exchange+sort instead of
    // shuffling the changelog a second time; the lead() lands the flag on
    // the KEPT row, where the _rn = 1 filter is guaranteed to evaluate it.
    // Only a duplicate pair that WINS its key raises (_rn = 1 guard): a
    // tied pair below a higher seq cannot affect the output, and gating on
    // _rn keeps the check deterministic under predicate reordering.
    val dupAhead = lead(col(seqCol), 1).over(w) === col(seqCol) &&
      lead(col("_src"), 1).over(w) === lit(1) && col("_src") === lit(1)
    tagged.withColumn("_rn", row_number().over(w))
      .withColumn(opCol, when(col("_rn") === 1 && coalesce(dupAhead, lit(false)),
          raise_error(lit(s"cdcApply: duplicate (${keys.mkString(",")}, " +
            s"$seqCol) pairs in the changelog — the winner would be " +
            "nondeterministic; deduplicate or refine the sequence column")))
        .otherwise(col(opCol)))
      .filter(col("_rn") === 1 && col(opCol) =!= "D")
      .drop("_src", "_rn", opCol, seqCol)
  }

  /** Resample a keyed time series onto a fixed grid with forward-fill: one
    * row per (key, grid slot) over [start, end), carrying the latest
    * observation at-or-before the slot (null until a key's first
    * observation). The gap-filling step an hourly pipeline needs when a
    * source skips hours (the reference's hourly feeds do — it just never
    * noticed).
    *
    * Observations are snapped to their slot (floor to `stepSeconds`),
    * latest-per-slot wins (max ts, tiebreak by `tieBreak` desc). The grid is
    * keys x sequence(start, end) — generated, not read — and the fill is
    * last(ignoreNulls) over slot order: ONE shuffle by key, one per-key
    * sort, any number of value columns carried in one struct (same
    * discipline as AsOfJoin — a per-column fill would resurrect older
    * values through a latest-but-null observation).
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
                    tieBreakCol: String, valueCols: Seq[String],
                    start: java.sql.Timestamp, end: java.sql.Timestamp,
                    stepSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stepUs = stepSeconds * 1000000L
    val slotOf: Column => Column = c =>
      (floor(unix_micros(c.cast("timestamp")) / stepUs) * stepUs).cast("long")

    // latest observation per (key, slot), values packed into one struct;
    // tieBreakCol makes "latest" total under duplicate timestamps
    val w = Window.partitionBy(col("__k"), col("__slot"))
      .orderBy(col(tsCol).desc, col(tieBreakCol).desc)
    val obs = df
      .filter(col(tsCol) >= lit(start) && col(tsCol) < lit(end))
      .withColumn("__k", col(keyCol))
      .withColumn("__slot", slotOf(col(tsCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__k"), col("__slot"),
        struct(valueCols.map(col): _*).as("__v"))

    // same epoch-micros formula Spark's fromJavaTimestamp uses (UTC session)
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val gridStart = Math.floorDiv(usOf(start), stepUs) * stepUs
    val grid = df.select(col(keyCol).as("__k")).distinct()
      .select(col("__k"), explode(sequence(
        lit(gridStart), lit(usOf(end) - 1), lit(stepUs))).as("__slot"))

    val fillW = Window.partitionBy(col("__k")).orderBy(col("__slot"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("__k", "__slot"), "left")
      .withColumn("__f", last(col("__v"), ignoreNulls = true).over(fillW))
      .select(
        (Seq(col("__k").as(keyCol),
          timestamp_micros(col("__slot")).as(tsCol)) ++
          valueCols.map(c => col("__f")(c).as(c))): _*)
  }

  /** Resample onto the same grid with LINEAR INTERPOLATION between the
    * nearest observed slots (anchors are slot-quantized, latest-in-slot wins
    * like [[resampleFfill]]): between two anchors the value is the exact
    * linear blend, after the last anchor it carries forward, before the
    * first it is NULL (no extrapolation backwards). The blend is one fixed
    * double expression over integer slot deltas and the two anchor values,
    * so engines agree bit-for-bit.
    *
    * Same scale shape as ffill: one shuffle to (key, slot), two
    * unbounded-window passes per key (forward carry of the previous anchor,
    * backward carry of the next), grid generated with `sequence` — no
    * per-gap joins, no explosion beyond |keys| x |slots|.
    */
  def resampleInterp(df: DataFrame, keyCol: String, tsCol: String,
                     tieBreakCol: String, valueCol: String,
                     start: java.sql.Timestamp, end: java.sql.Timestamp,
                     stepSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stepUs = stepSeconds * 1000000L
    val slotOf: Column => Column = c =>
      (floor(unix_micros(c.cast("timestamp")) / stepUs) * stepUs).cast("long")

    val w = Window.partitionBy(col("__k"), col("__slot"))
      .orderBy(col(tsCol).desc, col(tieBreakCol).desc)
    val obs = df
      .filter(col(tsCol) >= lit(start) && col(tsCol) < lit(end))
      .withColumn("__k", col(keyCol))
      .withColumn("__slot", slotOf(col(tsCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__k"), col("__slot"), col(valueCol).as("__v"))

    def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val gridStart = Math.floorDiv(usOf(start), stepUs) * stepUs
    val grid = df.select(col(keyCol).as("__k")).distinct()
      .select(col("__k"), explode(sequence(
        lit(gridStart), lit(usOf(end) - 1), lit(stepUs))).as("__slot"))

    val wPrev = Window.partitionBy(col("__k")).orderBy(col("__slot"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the backward carry runs over the REVERSED order with a running
    // (unboundedPreceding -> current) frame rather than first() over
    // (current -> unboundedFollowing): Spark's UnboundedFollowing frame
    // re-aggregates the tail per row — O(rows²) per key, profiled as 70%
    // of this operator's wall time (round 19) — while running frames are
    // incremental O(rows); slots are unique per key, so the two forms pick
    // identical anchors
    val wNextRev = Window.partitionBy(col("__k")).orderBy(col("__slot").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("__k", "__slot"), "left")
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__ps",
        last(when(col("__v").isNotNull, col("__slot")), ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(wNextRev))
      .withColumn("__ns",
        last(when(col("__v").isNotNull, col("__slot")), ignoreNulls = true).over(wNextRev))
      .select(col("__k").as(keyCol),
        timestamp_micros(col("__slot")).as(tsCol),
        when(col("__ps") === col("__ns"), col("__pv"))
          .when(col("__ps").isNotNull && col("__ns").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              ((col("__slot") - col("__ps")).cast("double") /
                (col("__ns") - col("__ps")).cast("double")))
          .when(col("__ps").isNotNull, col("__pv"))
          .otherwise(lit(null).cast("double")).as(valueCol))
  }

  /** Snapshot diff (CDC extract): compare two states of a keyed table and
    * classify every key as INSERT (new only), DELETE (old only), or UPDATE
    * (both sides, any tracked attribute differs null-safely); unchanged
    * keys are dropped. The change feed between full snapshots — what a
    * downstream incremental consumer (or an audit log) ingests when the
    * upstream can only provide full dumps.
    *
    * Scale shape: ONE full-outer join hash-keyed on the key columns — both
    * snapshots shuffle once on the same key, attribute comparison is a
    * null-safe struct equality in the join output projection (no second
    * pass), and the unchanged majority is filtered before anything else
    * sees it. Emits the NEW side's attributes for I/U and the OLD side's
    * for D.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
                   attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "snapshotDiff needs key and attribute columns")
    // presence markers, not key-null tests: a genuinely-NULL key (the join
    // condition is null-safe) must not read as an absent side
    val o = oldDf.select((keyCols ++ attrCols).map(c => col(c).as(s"__o_$c")) :+
      lit(true).as("__o_present"): _*)
    val n = newDf.select((keyCols ++ attrCols).map(c => col(c).as(s"__n_$c")) :+
      lit(true).as("__n_present"): _*)
    val joinCond = keyCols.map(c => col(s"__o_$c") <=> col(s"__n_$c")).reduce(_ && _)
    val oAttrs = struct(attrCols.map(c => col(s"__o_$c")): _*)
    val nAttrs = struct(attrCols.map(c => col(s"__n_$c")): _*)
    o.join(n, joinCond, "full_outer")
      .withColumn("op",
        when(col("__o_present").isNull, lit("I"))
          .when(col("__n_present").isNull, lit("D"))
          .when(!(oAttrs <=> nAttrs), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op") +:
        keyCols.map(c => coalesce(col(s"__n_$c"), col(s"__o_$c")).as(c)) ++:
        attrCols.map(c =>
          when(col("op") === "D", col(s"__o_$c")).otherwise(col(s"__n_$c")).as(c)): _*)
  }

  /** SCD Type-2 history build: collapse an ordered stream of per-key
    * snapshots into validity ranges — keep only rows where the tracked
    * attributes CHANGED, stamp each with `valid_from` (its own order value),
    * `valid_to` (the next change's order value, NULL while current) and
    * `is_current`. The warehouse-side half of a slowly-changing-dimension
    * load; the reference's sinks only ever overwrite (D3), so this is the
    * history-preserving upgrade of that load path.
    *
    * Change detection is a null-safe struct compare against `lag` (a row
    * with all-NULL attributes following another all-NULL row is a no-change
    * row). Both windows sort by `orderCols` within the key — callers must
    * include a tiebreaker column if the leading order column can repeat
    * within a key, or which duplicate survives is nondeterministic.
    *
    * Scale shape: ONE hash exchange on the key; the second window (the
    * `lead` over surviving change rows) reuses the first's partitioning AND
    * sort order, so Catalyst plans it without a second exchange or sort.
    * No data-dependent state beyond the per-key sorted run — skewed keys
    * are bounded by that key's snapshot count, not the corpus.
    */
  def scd2(df: DataFrame, keyCol: String, orderCols: Seq[String],
           attrCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty && attrCols.nonEmpty,
      "scd2 needs at least one order column and one tracked attribute")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val attrs = struct(attrCols.map(col): _*)
    val prev = lag(attrs, 1).over(w)
    df.withColumn("__chg", prev.isNull || !(attrs <=> prev))
      .filter(col("__chg"))
      .withColumn("valid_from", col(orderCols.head))
      .withColumn("valid_to", lead(col(orderCols.head), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCol +: attrCols.toList).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }
}
