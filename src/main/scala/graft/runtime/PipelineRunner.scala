package graft.runtime

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.Changelog
import graft.config.PipelineConfig
import graft.sink.IndexSink

/** Dataflow control (SURVEY §2.5 B1–B8): micro-batch delivery with
  * commit-after-sink ordering, classified retry, poison-pill DLQ routing,
  * and throughput accounting.
  *
  * Mapping from the reference's hand-built machinery to Spark:
  *   - coordinator/worker queue + InFlightBatch barrier → a Structured
  *     Streaming micro-batch IS the barrier: `foreachBatch` returns only
  *     when every task of the batch finished, and only then is the offset
  *     committed to the checkpoint (B3/B4/B5 for free).
  *   - at-least-once + upsert idempotence → a replayed batch re-merges the
  *     same keys; the keyed sink makes replay a no-op (B1).
  *   - classified retry (B2): only errors the policy marks retryable are
  *     retried (`maxRetries` × `retryDelayMs`); anything else rethrows
  *     immediately and the streaming query restarts from the checkpoint
  *     (B6's replay semantics).
  *   - poison pills (P7): rows failing the validity predicate are routed
  *     to a DLQ sink instead of poisoning the batch (the reference logs
  *     and drops; its TODO.md asks for a DLQ — we provide one).
  */
final class PipelineRunner(
    cfg: PipelineConfig,
    sink: IndexSink,
    retryable: Throwable => Boolean = PipelineRunner.defaultRetryPolicy,
    dlq: Option[DataFrame => Unit] = None,
    /** Auxiliary persisted stores this pipeline OWNS and keeps current
      * alongside the document sink (a signature store fed per batch, a
      * vector index, …), as (kind, dir) with kind from
      * [[graft.sink.Stores.Kinds]]. [[maintain]] compacts them with
      * [[PipelineConfig.keepGenerations]] — ownership matters: the
      * compact runs under this JVM's session epoch, so only the store's
      * single writer may list it here (a store another process writes
      * would be FENCED by this pipeline's maintenance).
      */
    stores: Seq[(String, String)] = Nil) {
  stores.foreach { case (kind, _) => graft.sink.Stores(kind) }

  val metrics = new PipelineMetrics

  /** Process one (micro-)batch of changelog rows end-to-end:
    * classify → compact → applyChanges → commit. The compaction is the
    * batch's only per-key fold: its one row per key (`_op` "u" upsert /
    * "d" delete) is the sink's delta. Returns upserts + deletes.
    */
  def processBatch(batch: DataFrame, opCol: String, keyCol: String,
      orderCols: Seq[Column], validity: Option[Column] = None): Long = {
    val t0 = System.nanoTime()
    val (good, poison) = validity match {
      case Some(v) => (batch.filter(v), Some(batch.filter(!coalesce(v, lit(false)))))
      case None => (batch, None)
    }
    poison.filter(_ => dlq.nonEmpty).foreach { p => dlq.get(p) }

    val changes = Changelog.compact(Changelog.classify(good, opCol), keyCol, orderCols)
      .withColumn("_action", when(col("_action") === "delete", "d").otherwise("u"))
      .drop(opCol)
      .withColumnRenamed("_action", IndexSink.OpCol)
      .withColumn(sink.idField, col(keyCol).cast("string"))
    val docs = withRetry {
      // the count rides on the sink's own write; an Observation collects
      // only once, so every attempt gets a fresh one
      val folded = Observation()
      sink.applyChanges(changes.observe(folded, count(lit(1)).as("n")))
      sink.commit()
      folded.get("n").asInstanceOf[Long]
    }
    metrics.record(docs, System.nanoTime() - t0)
    docs
  }

  /** Post-batch retention maintenance from the pipeline's OWN process —
    * the safe place to vacuum (the writer's session epoch is reused, so
    * the live writer can never be fenced by its own maintenance).
    * Retention comes from the config surface: the document sink vacuums
    * manifest versions down to [[PipelineConfig.keepVersions]] (sinks
    * without a vacuum are a no-op), and every pipeline-owned auxiliary
    * store (the `stores` constructor list) is THRESHOLD-gated through
    * [[graft.sink.Stores.maybeCompact]]: an empty commit log is a
    * metadata-only no-op (no generation burned, no base rewrite), and a
    * non-empty one folds only past [[PipelineConfig.storeMaxDeltas]]
    * pending commits, keeping [[PipelineConfig.keepGenerations]]
    * previous sealed generations for in-flight readers — so the
    * README's "run it between batches" guidance costs a full store
    * rewrite only when there is something to fold. `dryRun = true`
    * stays strictly read-only: the
    * sink reports what vacuum WOULD delete and the store compactions are
    * skipped entirely (compaction has no partial mode). Run it between
    * batches on whatever cadence storage costs dictate.
    */
  def maintain(dryRun: Boolean = false): Option[graft.sink.VacuumReport] = {
    if (!dryRun && stores.nonEmpty) {
      val spark = org.apache.spark.sql.SparkSession.active
      stores.foreach { case (kind, dir) =>
        graft.sink.Stores.maybeCompact(spark, kind, dir,
          cfg.storeMaxDeltas, cfg.keepGenerations): Unit }
    }
    sink match {
      case p: graft.sink.ParquetIndexSink =>
        Some(p.vacuum(cfg.keepVersions, dryRun))
      case _ => None
    }
  }

  /** B2/B6 — classified bounded retry. */
  private def withRetry[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if retryable(e) && attempt < cfg.maxRetries =>
          attempt += 1
          metrics.retries.incrementAndGet()
          Thread.sleep(cfg.retryDelayMs)
        case e: Throwable => throw e
      }
    }
    sys.error("unreachable")
  }

  /** C3 — size flush: when a micro-batch exceeds `cfg.batchSize` records
    * (replay, backfill, a large snapshot landing at once), split it into
    * size-bounded chunks in `orderCols` order and run each through
    * [[processBatch]] with its OWN sink commit — the reference flushes
    * its upload batch every `batchSize` documents
    * (`IngestionConfig.java:47`, `PaimonConfig.java:32`). Chunking uses
    * the two-phase global numbering (no single-partition window) and only
    * engages above the threshold — the steady-state path stays one
    * commit per micro-batch.
    */
  def processBatchChunked(batch: DataFrame, opCol: String, keyCol: String,
      orderCols: Seq[Column], validity: Option[Column] = None): Long = {
    // bounded probe, not a full count: the steady-state path (batch within
    // the size limit) must not pay an extra full scan per micro-batch —
    // limit(k+1) stops reading once k+1 rows exist (saturating add: a
    // batchSize of Int.MaxValue means "never chunk", not an overflow)
    val probeLimit =
      if (cfg.batchSize >= Int.MaxValue) Int.MaxValue else cfg.batchSize + 1
    val probe = batch.limit(probeLimit).count()
    if (probe <= cfg.batchSize)
      processBatch(batch, opCol, keyCol, orderCols, validity)
    else {
      val numbered = graft.operators.Batching
        .withGlobalRowNumber(batch, struct(orderCols: _*), "_graft_rn")
        .cache()
      try {
        // exact count from the cached numbered frame — not a second full
        // scan of the raw source on exactly the largest batches
        val n = numbered.agg(max("_graft_rn")).head().getLong(0)
        val chunks = ((n - 1) / cfg.batchSize + 1).toInt
        (0 until chunks).map { i =>
          val lo = i.toLong * cfg.batchSize
          processBatch(
            numbered.filter(col("_graft_rn") > lo &&
              col("_graft_rn") <= lo + cfg.batchSize).drop("_graft_rn"),
            opCol, keyCol, orderCols, validity)
        }.sum
      } finally numbered.unpersist()
    }
  }

  /** Streaming entry: changelog stream → foreachBatch(processBatch) with
    * checkpointed offsets; trigger interval = the reference's scan
    * interval (B5's commit protocol comes from the streaming engine).
    * Micro-batches above `cfg.batchSize` records are size-chunked
    * ([[processBatchChunked]]), and a progress watchdog aborts the query
    * if no batch completes within `cfg.checkpointTimeoutMinutes` — the
    * reference's bounded `awaitCompletion`
    * (`PaimonIngestor.java:341-368`).
    */
  def runStream(stream: DataFrame, opCol: String, keyCol: String,
      orderCols: Seq[Column], validity: Option[Column] = None): StreamingQuery = {
    val watchdog = new ProgressWatchdog(cfg.checkpointTimeoutMinutes * 60000L)
    val query = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        if (cfg.checkpointLocation.nonEmpty) cfg.checkpointLocation
        else java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.ProcessingTime(cfg.scanIntervalMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatchChunked(batch, opCol, keyCol, orderCols, validity)
        watchdog.onProgress()
      }
      .start()
    if (cfg.checkpointTimeoutMinutes > 0) watchdog.guard(query)
    query
  }
}

/** Checkpoint-timeout enforcement: if no micro-batch completes within the
  * timeout, the streaming query is stopped (abort → restart-from-
  * checkpoint is the recovery path, same as the reference's timed
  * `awaitCompletion` abort). Clock injectable for deterministic tests.
  */
final class ProgressWatchdog(timeoutMs: Long,
    now: () => Long = () => System.currentTimeMillis(),
    startupGraceMs: Long = Long.MaxValue) {
  private val startedAt: Long = now()
  @volatile private var lastProgressAt: Long = startedAt
  @volatile private var aborted = false

  def onProgress(): Unit = lastProgressAt = now()
  def expired: Boolean = now() - lastProgressAt > timeoutMs
  def wasAborted: Boolean = aborted

  /** Poll the query on a daemon thread; stop it once expired.
    *
    * Liveness is "the engine is making progress", NOT "data is arriving":
    * an idle source plans no micro-batch, so `foreachBatch` (and
    * `onProgress`) never fires — but Spark still emits no-data progress
    * events (`noDataProgressEventInterval`). The guard treats ANY new
    * `lastProgress` as liveness, so a quiet overnight stream is healthy
    * and only a genuinely stuck batch trips the timeout (the reference's
    * `awaitCompletion` aborts a stuck checkpoint, not an idle table).
    */
  def guard(query: StreamingQuery,
      pollMs: Long = 500L): Thread = {
    val t = new Thread(() => {
      var lastSeen: String = null
      var sawData = false
      while (query.isActive && !expired) {
        val p = query.lastProgress
        // scan the recent-progress buffer, not just the latest snapshot:
        // a row-carrying batch followed by a no-data batch inside one
        // poll interval would otherwise never be observed, and a healthy
        // stream would be aborted once the grace expired
        if (!sawData && query.recentProgress.exists(_.numInputRows > 0))
          sawData = true
        // `startupGraceMs` bounds the wait for FIRST DATA: until any
        // progress has carried rows, liveness only resets the timer
        // inside the grace window. Spark runs an (empty) batch 0 even on
        // a dataless source, so "no progress yet" cannot distinguish a
        // quiet topic from a misconfigured/permanently-empty one — rows
        // can. Default grace is unbounded (a quiet topic is not an
        // error); callers that must fail fast on a never-producing
        // source set it, and past the grace the ordinary timeout fires.
        val live = sawData || now() - startedAt <= startupGraceMs
        if (p != null && p.timestamp != lastSeen) {
          lastSeen = p.timestamp
          if (live) onProgress()
        } else if (lastSeen != null && !query.status.isTriggerActive) {
          // engine between triggers AFTER at least one completed trigger
          // (Spark 4 emits idle events, not progress) — only a RUNNING
          // trigger can be stuck. Before the first progress the timer
          // keeps running, so a source that hangs during initialization
          // is still aborted (the reference's bounded awaitCompletion).
          if (live) onProgress()
        } else if (lastSeen == null && !query.status.isTriggerActive &&
            Option(query.status.message).exists(_.startsWith("Waiting"))) {
          // empty-at-startup source: initialization FINISHED (status says
          // "Waiting for data to arrive" / "Waiting for next trigger") but
          // no batch has ever planned, so no progress was ever emitted.
          // The stream is healthy-idle, not hung — distinguish it from an
          // init hang, whose status stays at "Initializing ..." and still
          // trips the timeout.
          if (live) onProgress()
        }
        Thread.sleep(pollMs)
      }
      if (query.isActive && expired) {
        aborted = true
        System.err.println(
          s"[graft] checkpoint timeout: no progress in ${timeoutMs}ms, stopping query")
        query.stop()
      }
    }, "graft-checkpoint-watchdog")
    t.setDaemon(true)
    t.start()
    t
  }
}

object PipelineRunner {
  /** The reference retries only index-not-ready errors
    * (`KafkaIngestor.java:251-289`: INVALID_ARGUMENT + "does not exist");
    * everything else is fatal for the attempt.
    */
  def defaultRetryPolicy(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("does not exist") || m.contains("INVALID_ARGUMENT")
  }

  /** Engine-level metrics bridge: source-side rows/durations from Spark's
    * own `QueryProgressEvent` feed a [[PipelineMetrics]] — the
    * `StreamingQueryListener` half of B8 (the runner's sink-side metrics
    * count documents written; this counts rows read, so lag between the
    * two is visible). Returns the listener so callers can remove it.
    */
  def attachProgressMetrics(spark: org.apache.spark.sql.SparkSession,
      metrics: PipelineMetrics): org.apache.spark.sql.streaming.StreamingQueryListener = {
    val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        metrics.record(e.progress.numInputRows,
          e.progress.batchDuration * 1000000L)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }
}

/** B8 — throughput accounting: per-batch docs/sec, lifetime totals, AND a
  * rolling window summary (the reference logs per-batch and a 5-minute
  * summary; `PaimonIngestor.java:619-646,778-798`). Clock injectable for
  * deterministic window tests.
  */
final class PipelineMetrics(windowMs: Long = 5 * 60 * 1000L,
    now: () => Long = () => System.currentTimeMillis()) {
  val totalDocs = new AtomicLong(0)
  val totalBatches = new AtomicLong(0)
  val totalNanos = new AtomicLong(0)
  val retries = new AtomicLong(0)
  private val lastBatch = new AtomicReference[(Long, Double)]((0L, 0.0))
  /** (wall-clock ms, docs) per batch within the rolling window. */
  private val window = new java.util.ArrayDeque[(Long, Long)]()

  def record(docs: Long, nanos: Long): Unit = {
    totalDocs.addAndGet(docs)
    totalBatches.incrementAndGet()
    totalNanos.addAndGet(nanos)
    val secs = nanos / 1e9
    lastBatch.set((docs, if (secs > 0) docs / secs else 0.0))
    window.synchronized {
      window.addLast((now(), docs))
      evictExpired()
    }
  }

  private def evictExpired(): Unit = {
    val cutoff = now() - windowMs
    while (!window.isEmpty && window.peekFirst()._1 < cutoff)
      window.removeFirst()
  }

  /** (docs, batches, docs/sec) over the trailing window — the reference's
    * periodic 5-minute summary line.
    */
  def rollingStats: (Long, Int, Double) = window.synchronized {
    evictExpired()
    val docs = window.iterator().asScala.map(_._2).sum
    val n = window.size()
    (docs, n, docs / (windowMs / 1000.0))
  }

  /** (docs, docs/sec) of the most recent batch — the reference's
    * per-batch log line (`PaimonIngestor.java:631-636`).
    */
  def lastBatchStats: (Long, Double) = lastBatch.get

  def docsPerSec: Double = {
    val s = totalNanos.get / 1e9
    if (s > 0) totalDocs.get / s else 0.0
  }

  def summary: String =
    f"docs=${totalDocs.get} batches=${totalBatches.get} " +
      f"avgBatch=${if (totalBatches.get > 0) totalDocs.get / totalBatches.get else 0} " +
      f"docsPerSec=$docsPerSec%.1f retries=${retries.get}"
}
