package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Heavy-hitters surface over the native Misra-Gries aggregate
  * (graft.plans.MisraGriesSketch — a `TypedImperativeAggregate` with a
  * mutable bounded buffer; see its Scaladoc for the guarantee and the
  * at-scale shape).
  */
object HeavyHitters {

  /** Column form usable in `agg` over any string column; yields a
    * map<string,bigint> of ~k candidate heavy hitters.
    */
  def sketchOf(c: Column, k: Int): Column =
    graft.plans.GraftFunctions.misraGries(c, k)

  /** Heavy-hitter terms over a text column: sketch to find candidates with
    * bounded memory, then ONE semi-joined exact count of just the candidates
    * — the standard two-pass pattern that never shuffles the full term
    * distribution.
    */
  def topTerms(df: DataFrame, textCol: String, k: Int, topN: Int): DataFrame = {
    val toks = df.select(explode(split(col(textCol), " ")).as("__mg_item"))
    val candidates = toks
      .agg(map_keys(sketchOf(col("__mg_item"), k)).as("cand"))
      .head().getSeq[String](0)
    toks.filter(col("__mg_item").isin(candidates.map(lit(_)): _*))
      .groupBy(col("__mg_item").as("term"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc)
      .limit(topN)
  }

  /** Per-GROUP heavy hitters: one Misra-Gries sketch per group value (the
    * aggregate is group-able for free), then one exact recount of just the
    * candidate (group, term) pairs — per-language/per-source vocabulary
    * skylines without ever shuffling the full per-group term distribution.
    *
    * Scale shape: the sketch pass is a group-keyed aggregate whose buffers
    * are k entries each (map-side combinable); the candidate set is
    * groups x k rows — broadcast-sized for any real group cardinality — so
    * the recount is a broadcast semi-join + one more group-keyed count.
    * Lossless (exact top-N) whenever a group's distinct terms <= k, per the
    * MG superset guarantee; approximate above that with the usual n/k
    * frequency error bound.
    */
  def topTermsByGroup(df: DataFrame, groupCol: String, textCol: String,
                      k: Int, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(groupCol).as("grp"),
      explode(split(col(textCol), " ")).as("__mg_item"))
    val cands = toks.groupBy(col("grp"))
      .agg(map_keys(sketchOf(col("__mg_item"), k)).as("__cands"))
      .select(col("grp").as("__cg"), explode(col("__cands")).as("__cand"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("freq").desc, col("term").asc)
    toks.join(broadcast(cands),
        toks("grp") === cands("__cg") && col("__mg_item") === col("__cand"),
        "left_semi")
      .groupBy(col("grp"), col("__mg_item").as("term"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("grp").as(groupCol), col("term"), col("freq"), col("rank"))
  }

  /** Per-TUMBLING-WINDOW heavy hitters with exact recount: one MG sketch
    * per window produces the candidate set (the state a streaming
    * aggregate of the same sketch would hold per window), then a second
    * keyed pass
    * recounts candidates exactly and ranks the top-N per window. With
    * k >= the per-window value cardinality the sketch is lossless and the
    * result IS the exact per-window top-N — the hh1/hh2 oracle discipline,
    * now time-windowed. At scale both passes shuffle only (window, value)
    * pairs; sketch state is k counters per window.
    *
    * Saturation is OBSERVABLE, not silent: every row carries the window's
    * `n_candidates` (sketch occupancy) and `lossless = n_candidates < k` —
    * a sketch that never filled cannot have evicted, so `lossless = true`
    * windows are provably exact top-N, and `false` windows are flagged for
    * an exact recount rather than quietly approximate.
    */
  def topValuesByWindow(df: DataFrame, tsCol: String, valueCol: String,
                        windowLen: String, k: Int, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(
      window(col(tsCol), windowLen)("start").as("window_start"),
      col(valueCol).as("__mg_item"))
    val sk = rows.groupBy(col("window_start"))
      .agg(map_keys(sketchOf(col("__mg_item"), k)).as("__cands"))
      .select(col("window_start").as("__cw"), col("__cands"),
        size(col("__cands")).cast("long").as("n_candidates"))
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("freq").desc, col("value").asc)
    rows.join(broadcast(sk),
        rows("window_start") === col("__cw") &&
          array_contains(col("__cands"), col("__mg_item")), "inner")
      .groupBy(col("window_start"), col("__mg_item").as("value"),
        col("n_candidates"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .withColumn("lossless", col("n_candidates") < k)
      .select(col("window_start"), col("value"), col("freq"), col("rank"),
        col("n_candidates"), col("lossless"))
  }

  /** TRENDING terms — the "top movers" monitor beside [[topTerms]]'s
    * static ranking: the k terms whose corpus SHARE grew most from
    * snapshot `before` to snapshot `after`, ranked by the EXACT
    * cross-multiplied growth c2·N1 − c1·N2 (= (c2/N2 − c1/N1)·N1·N2 —
    * no float ratios, and a term new in `after` needs no divide-by-zero
    * special case). Products ride DECIMAL(38,0) (c·N overflows a long at
    * ~10^10·10^9); the RANKING runs on the full decimal and only the
    * OUTPUT column clamps to [Long.Min, Long.Max] before the long cast —
    * at extreme shares (|c2·N1 − c1·N2| > 2^63, reachable at the same
    * documented scales) Spark 4's ANSI cast would otherwise abort the
    * job mid-rank. Two map-side token count aggregates, a two-long
    * broadcast, top-k via TakeOrderedAndProject; ties break
    * lexicographically.
    */
  def trendingTerms(before: DataFrame, after: DataFrame, textCol: String,
                    k: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def toks(df: DataFrame, half: Int) = df
      .select(explode(split(col(textCol), " ")).as("tok"),
        lit(half).as("__h"))
      .filter(length(col("tok")) > 0)
    val c = toks(before, 0).unionByName(toks(after, 1))
      .groupBy(col("tok"))
      .agg(sum(when(col("__h") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("__h") === 1, 1L).otherwise(0L)).as("c2"))
    val n = c.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val gx = col("c2").cast(dec) * col("n1").cast(dec) -
      col("c1").cast(dec) * col("n2").cast(dec)
    c.crossJoin(broadcast(n))
      .select(col("tok"), col("c1"), col("c2"), gx.as("__gx"),
        greatest(least(gx, lit(Long.MaxValue).cast(dec)),
          lit(Long.MinValue).cast(dec)).cast("long").as("growth_x"))
      .orderBy(col("__gx").desc, col("tok").asc)
      .limit(k)
      .drop("__gx")
  }
}
