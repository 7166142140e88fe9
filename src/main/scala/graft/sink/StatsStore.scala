package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained corpus statistics: the observability sibling
  * of [[IncrementalPostings]]/[[SignatureStore]]. A batch contributes ONE
  * O(#columns)-sized partial-stats commit (counts, typed min/max, a
  * mergeable DataSketches HLL sketch per column); the corpus-wide profile
  * is the FOLD of those partials — so "analyze table" on a 100 TB corpus
  * under continuous ingest costs one tiny merge over per-batch rows
  * instead of a corpus rescan. Every statistic kept is chosen to be
  * MERGEABLE: counts add, min/max compose, HLL sketches union; anything
  * non-mergeable (exact medians, exact distinct) is out of the store's
  * contract by design.
  *
  * Layout under `dir`:
  *   - `meta/` — one row per tracked column: `(col_name, kind)` with
  *     `kind ∈ {num, str}`; the profiling contract is persisted so every
  *     append aggregates the same columns the same way.
  *   - `base/` — partial rows from [[init]] (and [[compact]] folds).
  *   - `commits/<seq>/stats` — one [[DeltaLog]] commit per appended
  *     batch: #columns rows, O(columns × sketch) bytes, atomic rename.
  *
  * Partial row: `(col_name, n_nonnull, n_null, min_num, max_num,
  * min_str, max_str, hll)`. Numeric columns carry decimal(38,6) min/max
  * (engine-portable fixed-point — the [[graft.operators.Profile]] float
  * contract; magnitudes ≥ 1e32 are outside the store's contract and
  * throw under ANSI); all other types compare as strings. Distinct
  * sketches are built over the value's string rendering (injective per
  * type), so heterogeneous columns share one binary sketch column.
  */
object StatsStore extends DepthGatedStore {

  protected def baseName: String = "base"
  override protected def tag: String = "stats"

  private val metaSchema = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  private def isNum(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def readMeta(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.schema(metaSchema).parquet(s"$dir/meta")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** One partial-stats row per tracked column — a single aggregate pass
    * over `df` (fixed-size state per column, all map-side combinable),
    * melted driver-free like [[graft.operators.Profile.profile]].
    */
  private def partials(df: DataFrame, cols: Seq[(String, String)],
      lgK: Int): DataFrame = {
    cols.foreach { case (c, k) =>
      require(df.columns.contains(c),
        s"StatsStore: batch has no column '$c' (have ${df.columns.mkString(", ")})")
      val kindNow = if (isNum(df.schema(c).dataType)) "num" else "str"
      require(kindNow == k,
        s"StatsStore: column '$c' is $kindNow in this batch but tracked as $k")
    }
    val aggs = cols.flatMap { case (c, k) =>
      val numeric = k == "num"
      Seq(
        count(col(c)).as(s"_cnt_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        (if (numeric) min(col(c)).cast("decimal(38,6)")
         else lit(null).cast("decimal(38,6)")).as(s"_minn_$c"),
        (if (numeric) max(col(c)).cast("decimal(38,6)")
         else lit(null).cast("decimal(38,6)")).as(s"_maxn_$c"),
        (if (numeric) lit(null).cast("string")
         else min(col(c).cast("string"))).as(s"_mins_$c"),
        (if (numeric) lit(null).cast("string")
         else max(col(c).cast("string"))).as(s"_maxs_$c"),
        hll_sketch_agg(col(c).cast("string"), lit(lgK)).as(s"_hll_$c"),
        // equi-probability quantile points at 1..99% (numeric columns):
        // BOUNDED per-batch state (99 doubles) that merges by weighted
        // union at read — the mergeable-summaries answer to "approximate
        // percentiles under continuous ingest without a rescan"
        (if (numeric) percentile_approx(col(c).cast("double"),
            array(QuantileProbs.map(lit): _*), lit(10000))
         else lit(null).cast("array<double>")).as(s"_qs_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { case (c, _) =>
      struct(
        lit(c).as("col_name"),
        col(s"_cnt_$c").as("n_nonnull"),
        coalesce(col(s"_null_$c"), lit(0L)).as("n_null"),
        col(s"_minn_$c").as("min_num"),
        col(s"_maxn_$c").as("max_num"),
        col(s"_mins_$c").as("min_str"),
        col(s"_maxs_$c").as("max_str"),
        col(s"_hll_$c").as("hll"),
        col(s"_qs_$c").as("qtiles"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** The per-batch quantile grid: 1%..99%. 99 doubles per numeric column
    * per commit; the grid (not the corpus) bounds merge resolution, so
    * cross-batch rank error is ≤ ~1% of each contributing batch plus the
    * within-batch sketch error (n_batch/10000).
    */
  private val QuantileProbs: Seq[Double] = (1 to 99).map(_ / 100.0)

  /** Weighted merge of per-batch quantile points: each batch row's 99
    * points carry mass n_nonnull/99 at their value; sorted by value, the
    * estimate for probability p is the smallest value whose cumulative
    * mass reaches p of the total. Returns `(col_name, qtiles)` with the
    * merged estimates in `probs` order — the frame is commits × 99 rows
    * per column, so the per-column window is metadata-sized.
    */
  private def mergedQuantileRows(rows: DataFrame,
      probs: Seq[Double]): DataFrame = {
    val pts = rows
      .filter(col("qtiles").isNotNull && col("n_nonnull") > 0)
      .select(col("col_name"),
        (col("n_nonnull").cast("double") / size(col("qtiles"))).as("w"),
        explode(col("qtiles")).as("v"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("col_name").orderBy("v", "w")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = pts.groupBy("col_name").agg(sum("w").as("_totw"))
    val wcum = pts.withColumn("_cumw", sum("w").over(win)).join(tot, "col_name")
    // one aggregate expression per requested probability; 1e-9 slack
    // keeps float round-off from skipping the exact boundary point
    val qAggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("_cumw") >= col("_totw") * p - lit(1e-9), col("v")))
        .as(s"_q$i")
    }
    wcum.groupBy("col_name").agg(qAggs.head, qAggs.tail: _*)
      .select(col("col_name"),
        array(probs.indices.map(i => col(s"_q$i")): _*).as("qtiles"))
  }

  /** Approximate quantiles of every NUMERIC tracked column from the
    * persisted partials — no corpus scan, same contract as [[profile]]:
    * `(col_name, n_nonnull, qs)` with `qs(i)` the estimate for
    * `probs(i)`. Rank error is bounded by the per-batch sketch error
    * plus the 1% merge grid (see [[QuantileProbs]]).
    */
  def quantiles(spark: SparkSession, dir: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"probs must be in (0, 1), got $probs")
    val rows = partialRows(spark, dir, commitSeqs(spark, dir))
    mergedQuantileRows(rows, probs)
      .join(rows.filter(col("qtiles").isNotNull).groupBy("col_name")
        .agg(sum("n_nonnull").as("n_nonnull")), "col_name")
      .select(col("col_name"), col("n_nonnull"), col("qtiles").as("qs"))
  }

  /** Create the store: persist the profiling contract and the first
    * partials. `lgK` is the DataSketches HLL log2(K) — 12 gives ~1.6 KB
    * per sketch and ±1.6% standard error, comfortably inside a ±5% gate.
    */
  def init(df: DataFrame, columns: Seq[String], dir: String,
      lgK: Int = 12): Unit = {
    require(columns.nonEmpty, "StatsStore needs at least one column")
    val spark = df.sparkSession
    val kinds = columns.map(c =>
      (c, if (isNum(df.schema(c).dataType)) "num" else "str"))
    writeRows(spark, s"$dir/meta", metaSchema,
      kinds.map { case (c, k) => Row(c, k) })
    DeltaLog.installBase(spark, dir, "base", fenceDomain = dir) { tmp =>
      partials(df, kinds.sorted, lgK).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }: Unit
    resetLog(spark, dir)
  }

  /** Contribute a batch: ONE commit holding #columns partial rows —
    * O(batch) scan work, O(columns × sketch) bytes durable. The batch's
    * sketch lgK adapts to the store's (union handles differing lgK by
    * downsampling, so the configured init lgK bounds the error).
    */
  def append(batch: DataFrame, dir: String, lgK: Int = 12): Int = {
    val spark = batch.sparkSession
    val cols = readMeta(spark, dir)
    val rows = partials(batch, cols, lgK).coalesce(1)
    commit(spark, dir, "stats") { tmp =>
      rows.write.mode("overwrite").parquet(s"$tmp/stats")
    }
  }

  private def partialRows(spark: SparkSession, dir: String,
      seqs: Seq[Int]): DataFrame = {
    val base = spark.read.parquet(DeltaLog.currentBase(spark, dir, "base"))
    // allowMissingColumns: a base written before the qtiles column (the
    // supported legacy layout) unions with qtiles-bearing commits — its
    // rows read null there, which folds correctly through the
    // isNotNull filter in mergedQuantileRows
    seqs.map(leg(spark, dir, _, "stats"))
      .foldLeft(base)(_.unionByName(_, allowMissingColumns = true))
  }

  /** The corpus-wide profile from the persisted partials — NO corpus
    * scan: `(col_name, n_nonnull, n_null, approx_distinct, min_v,
    * max_v)`, the [[graft.operators.Profile.profile]] shape. Counts are
    * exact sums; min/max are exact composes (numeric columns render as
    * 6dp fixed-point, others as their string min/max); distinct is the
    * HLL union estimate.
    */
  def profile(spark: SparkSession, dir: String): DataFrame =
    partialRows(spark, dir, commitSeqs(spark, dir))
      .groupBy("col_name")
      .agg(
        sum("n_nonnull").as("n_nonnull"),
        sum("n_null").as("n_null"),
        hll_sketch_estimate(hll_union_agg(col("hll"), lit(true)))
          .as("approx_distinct"),
        coalesce(min("min_num").cast("string"), min("min_str")).as("min_v"),
        coalesce(max("max_num").cast("string"), max("max_str")).as("max_v"))

  /** The compaction fold: the partials merged — O(columns × log). */
  protected def fold(spark: SparkSession, dir: String,
      seqs: Seq[Int]): String => Unit = {
    val rows = partialRows(spark, dir, seqs)
    val folded = rows
      .groupBy("col_name")
      .agg(
        sum("n_nonnull").as("n_nonnull"),
        sum("n_null").as("n_null"),
        min("min_num").as("min_num"),
        max("max_num").as("max_num"),
        min("min_str").as("min_str"),
        max("max_str").as("max_str"),
        hll_union_agg(col("hll"), lit(true)).as("hll"))
      // the fold's quantile summary is the weighted merge re-gridded to
      // the standard 99 points — numeric columns keep their percentile
      // view across compactions, string columns stay null
      .join(mergedQuantileRows(rows, QuantileProbs), Seq("col_name"), "left")
    tmp => folded.coalesce(1).write.mode("overwrite").parquet(tmp)
  }

  /** One-row health report: `(n_cols, n_pending_commits)` — commit depth
    * is the compaction signal (each pending commit adds one tiny scan
    * leg to every profile read).
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val pending = commitSeqs(spark, dir).length
    spark.read.schema(metaSchema).parquet(s"$dir/meta")
      .agg(count(lit(1)).as("n_cols"))
      .select(col("n_cols"), lit(pending).cast("long").as("n_pending_commits"))
  }
}
