package graft.runtime

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.config.PipelineConfig
import graft.sink.ParquetIndexSink

class PipelineRunnerSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler

  private def cfg(dir: String) = PipelineConfig(
    indexName = "test-idx", sourcePath = dir,
    maxRetries = 2, retryDelayMs = 1L, scanIntervalMs = 100L,
    checkpointLocation = java.nio.file.Files.createTempDirectory("ckpt").toString)

  private def changelog(rows: (String, Long, String, String)*) =
    rows.toSeq.toDF("k", "seq", "op", "v")

  /** One batch covering every per-key shape the fold must resolve: a hot
    * key with three versions (h), delete-then-add (d), add-then-delete
    * (c, e) and stray −U rows (b: ignored next to its +I; f: the key's
    * only row). Folds to 4 upserts (a, b, d, h) + 2 deletes (c, e).
    */
  private val richBatch = Seq(
    ("a", 1L, "+I", "v1"), ("b", 2L, "+I", "b1"), ("a", 3L, "+U", "v2"),
    ("c", 4L, "+I", "c1"), ("c", 5L, "-D", ""),
    ("h", 6L, "+I", "h1"), ("h", 7L, "+U", "h2"), ("h", 8L, "+U", "h3"),
    ("d", 9L, "-D", ""), ("d", 10L, "+I", "d1"),
    ("e", 11L, "+I", "e1"), ("e", 12L, "-D", ""),
    ("b", 13L, "-U", "b0"), ("f", 14L, "-U", "f0"))

  private def stateOf(sink: graft.sink.IndexSink): Seq[(String, String)] =
    sink.searchable().orderBy("_id").select("_id", "v")
      .as[(String, String)].collect().toSeq

  test("batch: classify → compact → delete → upsert → commit") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val sink = new ParquetIndexSink(spark, dir)
    val runner = new PipelineRunner(cfg(dir), sink)
    val docs = runner.processBatch(changelog(richBatch: _*), "op", "k", Seq(col("seq")))
    assert(stateOf(sink) == Seq(("a", "v2"), ("b", "b1"), ("d", "d1"), ("h", "h3")))
    assert(docs == 6) // upserts + deletes after compaction
    assert(runner.metrics.totalDocs.get == 6)
    assert(runner.metrics.totalBatches.get == 1)
  }

  test("runner fold contract: empty folds, null keys, trait-default sink parity") {
    val dir = java.nio.file.Files.createTempDirectory("runner-fold").toString
    val sink = new ParquetIndexSink(spark, dir)
    val runner = new PipelineRunner(cfg(dir), sink)
    def run(rows: Seq[(String, Long, String, String)],
        validity: Option[org.apache.spark.sql.Column] = None): Long =
      failAfter(Span(120, Seconds)) {
        runner.processBatch(changelog(rows: _*), "op", "k", Seq(col("seq")), validity)
      }

    // an empty fold returns 0 and publishes nothing, before and after a load
    assert(run(Seq(("a", 1, "-U", "x"))) == 0)
    assert(sink.history().isEmpty)
    assert(run(richBatch) == 6)
    val loaded = sink.history()
    assert(run(Seq(("a", 20, "-U", "x"), ("b", 21, "-U", "y"))) == 0)
    assert(run(Seq(("z", 22, "+I", "POISON")), Some(col("v") =!= "POISON")) == 0)
    assert(sink.history() == loaded)

    // a null-key −D deletes nothing; it still counts as a folded delete
    assert(run(Seq((null, 23, "-D", ""), ("z", 24, "+I", "z1"))) == 2)
    assert(stateOf(sink) ==
      Seq(("a", "v2"), ("b", "b1"), ("d", "d1"), ("h", "h3"), ("z", "z1")))
    val published = sink.history()
    assert(published.size == loaded.size + 1)

    // a null-key +I fails the batch before any manifest is published
    intercept[Exception](run(Seq((null, 25, "+I", "n1"), ("y", 26, "+I", "y1"))))
    assert(sink.history() == published)

    // the trait's default applyChanges split (deleteByKeys + addDocuments)
    // leaves the same index as the sink's pre-folded delta write
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("seq", LongType), StructField("v", StringType),
      StructField("_id", StringType)))
    val mem = new graft.sink.InMemoryIndexSink(spark, schema)
    val pq = new ParquetIndexSink(spark,
      java.nio.file.Files.createTempDirectory("runner-parity").toString)
    val memRunner = new PipelineRunner(cfg(dir), mem)
    val pqRunner = new PipelineRunner(cfg(dir), pq)
    Seq(richBatch,
      Seq(("a", 30L, "-D", ""), ("c", 31L, "+I", "c2"), ("b", 32L, "+U", "b2"),
        ("h", 33L, "-U", "h3"), ("e", 34L, "-D", ""), ("x", 35L, "-U", ""))
    ).foreach { rows =>
      val n = memRunner.processBatch(changelog(rows: _*), "op", "k", Seq(col("seq")))
      assert(pqRunner.processBatch(changelog(rows: _*), "op", "k", Seq(col("seq"))) == n)
      assert(stateOf(mem) == stateOf(pq))
    }
    assert(stateOf(pq) == Seq(("b", "b2"), ("c", "c2"), ("d", "d1"), ("h", "h3")))
  }

  /** Executed plans of the SQL executions `body` runs, in order. Listener
    * events arrive asynchronously: a marker query run after `body` is the
    * last event to wait for.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("plan_marker").collect()
      val deadline = System.currentTimeMillis() + 30000
      def marked = seen.asScala.exists(_.output.exists(_.name == "plan_marker"))
      while (!marked && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(marked, "marker query never reached the listener")
      seen.asScala.toSeq.takeWhile(!_.output.exists(_.name == "plan_marker"))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, through AQE stages and commands. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  private def windows(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[WindowExec])

  test("plan shape: one per-key window per commit, no cache or count job") {
    val dir = java.nio.file.Files.createTempDirectory("runner-plan").toString
    val sink = new ParquetIndexSink(spark, dir)
    val runner = new PipelineRunner(cfg(dir), sink)
    runner.processBatch(changelog(richBatch: _*), "op", "k", Seq(col("seq")))

    // a steady-state runner batch runs ONE execution: the delta write
    val batch = executedPlans(runner.processBatch(
      changelog(("a", 40, "+U", "v3"), ("a", 41, "+U", "v4"), ("b", 42, "-D", "")),
      "op", "k", Seq(col("seq"))))
    assert(batch.size == 1, batch.mkString("\n"))
    assert(windows(batch.head) == 1, batch.head)
    assert(!nodes(batch.head).exists(_.isInstanceOf[InMemoryTableScanExec]), batch.head)

    // direct callers: add + delete in one commit fold through one window
    val direct = executedPlans {
      sink.addDocuments(changelog(("c", 50, "+I", "c5"), ("c", 51, "+I", "c6"))
        .withColumn("_id", col("k")).drop("op"))
      sink.deleteByIds(Seq("a", "c"))
      sink.commit()
    }
    assert(direct.size == 1, direct.mkString("\n"))
    assert(windows(direct.head) == 1, direct.head)
    assert(stateOf(sink) == Seq(("d", "d1"), ("h", "h3")))
  }

  test("replayed batch is idempotent (at-least-once + upsert)") {
    val dir = java.nio.file.Files.createTempDirectory("runner2").toString
    val sink = new ParquetIndexSink(spark, dir)
    val runner = new PipelineRunner(cfg(dir), sink)
    val batch = changelog(("a", 1, "+I", "v1"), ("b", 2, "-D", ""))
    runner.processBatch(batch, "op", "k", Seq(col("seq")))
    runner.processBatch(batch, "op", "k", Seq(col("seq"))) // replay
    assert(sink.searchable().count() == 1)
  }

  test("poison rows route to the DLQ, batch still succeeds") {
    val dir = java.nio.file.Files.createTempDirectory("runner3").toString
    val sink = new ParquetIndexSink(spark, dir)
    var dlqRows = 0L
    val runner = new PipelineRunner(cfg(dir), sink,
      dlq = Some(df => dlqRows = df.count()))
    runner.processBatch(
      changelog(("a", 1, "+I", "good"), ("b", 2, "+I", "POISON")),
      "op", "k", Seq(col("seq")), validity = Some(col("v") =!= "POISON"))
    assert(dlqRows == 1)
    assert(sink.searchable().select("_id").as[String].collect().toSeq == Seq("a"))
  }

  test("retry policy: only classified errors retried, bounded attempts") {
    val calls = new AtomicInteger(0)
    val dir = java.nio.file.Files.createTempDirectory("runner4").toString
    val flaky = new ParquetIndexSink(spark, dir) {
      override def commit(): Unit = {
        if (calls.incrementAndGet() <= 1)
          throw new RuntimeException("index test-idx does not exist")
        super.commit()
      }
    }
    val runner = new PipelineRunner(cfg(dir), flaky)
    runner.processBatch(changelog(("a", 1, "+I", "v1")), "op", "k", Seq(col("seq")))
    assert(calls.get == 2) // one failure + one successful retry
    assert(runner.metrics.retries.get == 1)
    assert(flaky.searchable().count() == 1)

    val fatal = new ParquetIndexSink(spark, dir) {
      override def commit(): Unit = throw new RuntimeException("disk on fire")
    }
    val runner2 = new PipelineRunner(cfg(dir), fatal)
    assertThrows[RuntimeException] {
      runner2.processBatch(changelog(("a", 1, "+I", "v1")), "op", "k", Seq(col("seq")))
    }
  }

  test("oversized batch is size-chunked: one sink commit per batchSize records") {
    val dir = java.nio.file.Files.createTempDirectory("runner-chunk").toString
    val sink = new ParquetIndexSink(spark, dir)
    val commits = new AtomicInteger(0)
    val counting = new ParquetIndexSink(spark, dir) {
      override def commit(): Unit = { commits.incrementAndGet(); super.commit() }
    }
    val conf = cfg(dir).copy(batchSize = 2)
    val runner = new PipelineRunner(conf, counting)
    val docs = runner.processBatchChunked(
      changelog(("a", 1, "+I", "v1"), ("b", 2, "+I", "b1"), ("c", 3, "+I", "c1"),
        ("d", 4, "+I", "d1"), ("a", 5, "+U", "v2")),
      "op", "k", Seq(col("seq")))
    assert(commits.get == 3) // ceil(5/2) chunks, each committed
    assert(docs == 5)
    val state = sink.searchable().orderBy("_id")
      .select("_id", "v").as[(String, String)].collect().toSeq
    // the a-upsert (seq 5) lands in the LAST chunk: order preserved
    assert(state == Seq(("a", "v2"), ("b", "b1"), ("c", "c1"), ("d", "d1")))
    // small batches bypass chunking entirely
    val single = new AtomicInteger(0)
    val sink2 = new ParquetIndexSink(spark,
      java.nio.file.Files.createTempDirectory("runner-chunk2").toString) {
      override def commit(): Unit = { single.incrementAndGet(); super.commit() }
    }
    new PipelineRunner(conf, sink2).processBatchChunked(
      changelog(("x", 1, "+I", "x1")), "op", "k", Seq(col("seq")))
    assert(single.get == 1)
  }

  test("progress watchdog: expiry via simulated clock, abort stops the query") {
    var t = 0L
    val wd = new ProgressWatchdog(timeoutMs = 1000L, now = () => t)
    assert(!wd.expired)
    t = 900L; assert(!wd.expired)
    wd.onProgress() // batch completed at t=900
    t = 1800L; assert(!wd.expired) // only 900ms since last progress
    t = 2000L; assert(wd.expired)

    // wiring: a stalled stream gets stopped by the guard thread
    val srcDir = java.nio.file.Files.createTempDirectory("wd-src").toString
    changelog(("a", 1, "+I", "v1")).write.mode("append").parquet(srcDir)
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("seq", LongType), StructField("op", StringType),
      StructField("v", StringType)))
    val stalled = new ProgressWatchdog(timeoutMs = 300L)
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wd-ckpt").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        Thread.sleep(5000) // a batch that never reports progress in time
      }.start()
    stalled.guard(q, pollMs = 50L)
    val deadline = System.currentTimeMillis() + 20000
    while (q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!q.isActive, "watchdog should have stopped the stalled query")
    assert(stalled.wasAborted)
  }

  /** Block until the stream finishes initialization and reports the idle
    * "Waiting ..." status — arming a short-timeout watchdog before that
    * point would race a slow (loaded-JVM) initialization and flake.
    */
  private def awaitIdle(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (q.isActive &&
        !Option(q.status.message).exists(_.startsWith("Waiting")) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(q.isActive, "stream died during initialization")
  }

  test("progress watchdog: an idle (no-data) stream is healthy, not stuck") {
    val srcDir = java.nio.file.Files.createTempDirectory("wd-idle-src").toString
    val schema = StructType(Seq(StructField("k", StringType)))
    val q = spark.readStream.schema(schema).parquet(srcDir) // never any files
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wd-idle-ckpt").toString)
      .start()
    try {
      awaitIdle(q)
      // generous timeout: on a saturated box (full suite in parallel) a
      // zero-data trigger's own bookkeeping can take hundreds of ms, and
      // a "not aborted" assertion must not race that — this test pins
      // the idle-is-healthy CLASSIFICATION, not the timeout's tightness
      // (the stalled/grace tests own the abort paths)
      val wd = new ProgressWatchdog(timeoutMs = 2000L)
      wd.guard(q, pollMs = 50L)
      Thread.sleep(5000) // 2.5× the timeout with zero data
      assert(q.isActive, "idle stream must not be killed by the watchdog")
      assert(!wd.wasAborted)
    } finally q.stop()
  }

  test("progress watchdog: bounded startup grace aborts a never-producing source") {
    // a misconfigured (permanently empty) source is indistinguishable from
    // a quiet one — callers that must bound the wait for FIRST data set
    // startupGraceMs; past it, waiting-for-data stops counting as liveness
    // MemoryStream with no data ever added: batches may plan (batch 0 runs
    // empty) but no progress ever carries rows — the state the grace
    // bounds. Once data flows, the grace is moot and only the ordinary
    // stuck-trigger timeout applies.
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = input.toDF().writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wd-grace-ckpt").toString)
      .start()
    try {
      awaitIdle(q)
      val wd = new ProgressWatchdog(timeoutMs = 400L, startupGraceMs = 300L)
      wd.guard(q, pollMs = 50L)
      val deadline = System.currentTimeMillis() + 20000
      while (q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(!q.isActive, "empty source must be stopped once the grace expires")
      assert(wd.wasAborted)
    } finally if (q.isActive) q.stop()
  }

  test("progress listener feeds source-side metrics from query progress") {
    implicit val sqlCtx = spark.sqlContext
    val metrics = new PipelineMetrics
    val listener = PipelineRunner.attachProgressMetrics(spark, metrics)
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val q = input.toDF().writeStream.format("noop").start()
      try {
        input.addData(1 to 42: _*)
        q.processAllAvailable()
        // listener events are async; progress arrives shortly after
        val deadline = System.currentTimeMillis() + 10000
        while (metrics.totalDocs.get < 42 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(metrics.totalDocs.get >= 42)
        assert(metrics.totalBatches.get >= 1)
      } finally q.stop()
    } finally spark.streams.removeListener(listener)
  }

  test("rolling window metrics over a simulated clock") {
    var t = 0L
    val m = new PipelineMetrics(windowMs = 300000L, now = () => t)
    m.record(100, 1000000L); t = 60000L
    m.record(200, 1000000L); t = 240000L
    m.record(50, 1000000L)
    assert(m.rollingStats == ((350L, 3, 350 / 300.0)))
    t = 301000L // first batch (t=0) ages out
    val (docs, n, rate) = m.rollingStats
    assert(docs == 250 && n == 2)
    assert(math.abs(rate - 250 / 300.0) < 1e-9)
    assert(m.totalDocs.get == 350) // lifetime totals unaffected
  }

  test("restart from checkpoint resumes without reprocessing (consumer-id contract)") {
    val srcDir = java.nio.file.Files.createTempDirectory("restart-src").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("restart-sink").toString
    val conf = cfg(sinkDir) // one shared checkpointLocation across restarts
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("seq", LongType), StructField("op", StringType),
      StructField("v", StringType)))

    changelog(("a", 1, "+I", "v1")).write.mode("append").parquet(srcDir)
    val sink1 = new ParquetIndexSink(spark, sinkDir)
    val runner1 = new PipelineRunner(conf, sink1)
    val q1 = runner1.runStream(
      spark.readStream.schema(schema).parquet(srcDir), "op", "k", Seq(col("seq")))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(runner1.metrics.totalDocs.get == 1)

    // new snapshot lands while the query is DOWN; restart with the same
    // checkpoint → only the new data is processed
    changelog(("b", 2, "+I", "b1")).write.mode("append").parquet(srcDir)
    val sink2 = new ParquetIndexSink(spark, sinkDir)
    val runner2 = new PipelineRunner(conf, sink2)
    val q2 = runner2.runStream(
      spark.readStream.schema(schema).parquet(srcDir), "op", "k", Seq(col("seq")))
    try { q2.processAllAvailable() } finally q2.stop()

    assert(runner2.metrics.totalDocs.get == 1) // only "b", no replay of "a"
    val state = sink2.searchable().orderBy("_id").select("_id", "v")
      .as[(String, String)].collect().toSeq
    assert(state == Seq(("a", "v1"), ("b", "b1")))
  }

  test("streaming: file-source micro-batches reach the sink with checkpointing") {
    val srcDir = java.nio.file.Files.createTempDirectory("stream-src").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("stream-sink").toString
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("seq", LongType), StructField("op", StringType),
      StructField("v", StringType)))

    changelog(("a", 1, "+I", "v1"), ("b", 2, "+I", "b1"))
      .write.mode("append").parquet(srcDir)

    val sink = new ParquetIndexSink(spark, sinkDir)
    val runner = new PipelineRunner(cfg(sinkDir), sink)
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = runner.runStream(stream, "op", "k", Seq(col("seq")))
    try {
      q.processAllAvailable()
      assert(sink.searchable().count() == 2)

      // second snapshot: upsert a, delete b
      changelog(("a", 3, "+U", "v2"), ("b", 4, "-D", ""))
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val state = sink.searchable().select("_id", "v")
        .as[(String, String)].collect().toSeq
      assert(state == Seq(("a", "v2")))
    } finally q.stop()
  }
}
