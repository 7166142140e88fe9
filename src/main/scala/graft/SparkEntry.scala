package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Changelog
import graft.schema.{Flattener, Stringifier}
import graft.shard.{ModuloSharding, ShardingStrategyFactory}
import graft.sink.DocQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is deterministic: decimal arithmetic for aggregated doubles
  * (exact, then one final cast to double — identical bits in Spark and
  * DuckDB), and a total ORDER BY on a unique key in both engines.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---- shared helpers -----------------------------------------------------

  private[graft] def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Gate-scoped temp dirs. Index/store-backed queries build their stores
    * in fresh temp dirs inside the query body; each dir is registered here
    * and the harness (Verify/Bench) deletes it via [[drainTempDirs]] once
    * the query's result is materialized. Without the drain, 3 bench passes
    * over 155 queries (~15 of which write full indexes) accumulate dead
    * index bytes + OS page-cache pressure for the whole run.
    */
  private val pendingTempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    pendingTempDirs.add(d)
    d
  }

  /** Session-scoped SHARED gate legs: the dedup family's corpus-wide
    * reference frames (the exact n-gram verifier, the pruned cosine pair
    * graph) are identical computations in several gates — one row's body
    * computes each ONCE per (sfDir, key) and persists it; family rows
    * consume the parquet copy. The r5 `x_dedup_incremental`
    * transfer-by-composition pattern generalized: correctness is owned
    * by the computing function + its spec pins, the frame is the SAME
    * rows however many gates read it, and every consuming gate still
    * oracle-checks its own downstream result. These dirs are NOT in
    * [[pendingTempDirs]] — they live for the session by design.
    */
  private val sharedFrames =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Drop every session-shared frame (delete the parquet dirs, clear the
    * memo) so the next consumer rebuilds from the raw tables. The bench
    * calls this at the start of each pass and then TIMES the rebuild as
    * an explicit `shared_frames_build` board row — the r17 verdict's
    * accounting fix: the frame construction the dedup-family gates
    * consume must be charged to the reported board total, not absorbed
    * invisibly by whichever pass happened to run first.
    */
  private[graft] def resetSharedFrames(): Unit = {
    val it = sharedFrames.values().iterator()
    while (it.hasNext) {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(it.next()))
    }
    sharedFrames.clear()
  }

  /** Force-build every session-shared frame (the four dedup-family
    * reference frames). Each accessor's `computeIfAbsent` writes the
    * parquet copy eagerly, so returning from here means all four frames
    * are fully materialized on disk.
    */
  private[graft] def buildSharedFrames(s: SparkSession, d: String): Unit = {
    sharedExactPairs(s, d)
    sharedExactPairs03(s, d)
    sharedShingleSets(s, d)
    sharedPrunedCosinePairs(s, d)
    ()
  }

  private[graft] def sharedFrame(s: SparkSession, sfDir: String, key: String)(
      build: => DataFrame): DataFrame = {
    val dir = sharedFrames.computeIfAbsent((sfDir, key), _ => {
      val dd = java.nio.file.Files.createTempDirectory(s"graft-shared-$key")
        .toString
      build.write.mode("overwrite").parquet(dd)
      dd
    })
    s.read.parquet(dir)
  }

  /** The corpus-wide exact n-gram Jaccard near-dup pairs — the family's
    * shared verifier ([[operators.Dedup.ngramJaccard]], n=3, τ=0.5).
    */
  private[graft] def sharedExactPairs(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "ngram-exact") {
      operators.Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5)
    }

  /** The τ=0.3 exact pair set (n=3) — the candidate/truth frame two
    * gates consume (`x_dedup_edit`'s candidate generator and
    * `x_dedup_eval`'s truth set ran the identical corpus-wide
    * [[operators.Dedup.ngramJaccard]] independently; r17, the r7
    * shared-frame pattern). Correctness stays owned by `ngramJaccard` +
    * its spec pins; each consuming gate still oracle-checks its own
    * downstream result.
    */
  private[graft] def sharedExactPairs03(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "ngram-exact-03") {
      operators.Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.3)
    }

  /** The corpus's distinct word-3-shingle sets `(doc_id, shingles)` —
    * the input frame both halves of [[operators.Dedup.prefixFilterJoin]]
    * (prefix building AND exact verification) scan; shared so the
    * shingling pass is computed once per (sf, session) instead of
    * per-gate (r16 verdict task 4 — the row was the board's slowest).
    */
  private[graft] def sharedShingleSets(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "shingle-sets-3") {
      Tables.documents(s, d).select(col("doc_id"),
        array_distinct(graft.functions.TextFunctions.wordShingles(
          col("text"), 3)).as("shingles"))
    }

  /** The exact cell-pruned cosine pair graph at τ=0.4 — shared between
    * the pruned-pairs gate and the semantic-clustering gate
    * ([[operators.Dedup.embeddingCosinePairsPruned]], k=8, iters=3).
    */
  private[graft] def sharedPrunedCosinePairs(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "embed-pruned") {
      operators.Dedup.embeddingCosinePairsPruned(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.4, k = 8, iters = 3)
    }

  /** Delete every temp dir registered since the last drain. Safe to call
    * only AFTER the current query's DataFrame is fully materialized (the
    * returned frame reads from these dirs lazily).
    */
  def drainTempDirs(): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    var d = pendingTempDirs.poll()
    while (d != null) { rm(new java.io.File(d)); d = pendingTempDirs.poll() }
  }

  /** Release every persisted/locally-checkpointed RDD's blocks (r18,
    * verdict item 4): ~10 dedup/media operators localCheckpoint a derived
    * table per call, and without an explicit release the blocks pile up
    * across a 363-query board until ContextCleaner happens to GC the RDD
    * objects — the suspected cause of the r17 board-wide small-row drift
    * and the ingest_pipeline (last row) 0.86→1.39 s regression at 32
    * cores. Called at PASS BOUNDARIES and before the ingest section, not
    * per query: a per-query async release was measured interfering with
    * the next rows' tiny jobs (+5-25% on store-mutation rows), while the
    * pass-boundary release still bounds accumulation at one pass and
    * hands the ingest section a clean block manager. Safe only AFTER the
    * pass's results are fully materialized — a released
    * locally-checkpointed RDD cannot recompute.
    */
  private[graft] def releaseCheckpointBlocks(): Unit =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach { s =>
        s.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
      }

  /** events with `op` RowKind column synthesized from event_type — the CDC
    * test fixture: signup→+I, error→-D, view→-U (dropped), rest→+U.
    * (Public: the example pipeline reuses the same fixture mapping.)
    */
  def eventsChangelog(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("op",
        when(col("event_type") === "signup", Changelog.Insert)
          .when(col("event_type") === "error", Changelog.Delete)
          .when(col("event_type") === "view", Changelog.UpdateBefore)
          .otherwise(Changelog.UpdateAfter))

  // ---- query registry -----------------------------------------------------

  /** The gate registry, composed from the per-family query files (the
    * registry split keeps every source file well under 3k lines; the
    * composed map is byte-identical to the former single literal).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesPipelineSearch.queries ++
      QueriesDedupGeoVector.queries ++
      QueriesTextMediaCorpus.queries ++
      QueriesJoinsAggsStreaming.queries

  /** DuckDB oracle SQL per gate, composed like [[queries]]. */
  def oracleSql: Map[String, String] =
    OraclesA.oracleSql ++ OraclesB.oracleSql ++ OraclesC.oracleSql
}
