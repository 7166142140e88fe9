package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.cdc.Changelog
import graft.config.PipelineConfig
import graft.runtime.PipelineRunner
import graft.schema.{Flattener, Stringifier}
import graft.shard.ShardingStrategyFactory
import graft.sink.ParquetIndexSink
import graft.sources.{KafkaAvroSource, SchemaProvider}

/** A document sink that reports each commit's duration to the
  * benchmark thread once `commit()` returns — the moment the batch is
  * searchable, which ends an ingest op.
  */
final class SignalSink(spark: SparkSession, dir: String)
    extends ParquetIndexSink(spark, dir) {
  val commits = new LinkedBlockingQueue[java.lang.Long]()
  override def commit(): Unit = {
    val t0 = System.nanoTime()
    super.commit()
    commits.put(System.nanoTime() - t0)
  }
}

/** Shared bookkeeping of the two ingest workloads. */
object Ingest {
  /** `maxDeltas` of the default sink: every 9th delta commit also folds
    * the log into the base, so one compaction cycle is 9 ops.
    */
  val Cycle = 9

  /** Per-commit record of a traced op: seconds, docs, delta depth after
    * the commit, bytes and files it added to the index dir.
    */
  final case class Commit(secs: Double, docs: Long, depth: Int, bytes: Long, files: Long)

  /** Untimed probe at both ends of the timed phase: the delta-log depth
    * (0 at a compaction-cycle boundary) and the live document count.
    */
  def stationarity(sink: ParquetIndexSink): Map[String, Long] =
    Map("delta_depth" -> sink.committedDeltas.size.toLong,
      "live_docs" -> sink.searchable().count())

  def dirUsage(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
    finally s.close()
  }

  /** Sink-layer metrics over the traced ops' commits. */
  def sinkLayers(commits: Seq[Commit]): Map[String, Double] = {
    val (compact, plain) = commits.partition(_.depth == 0)
    val docs = commits.map(_.docs).sum.toDouble
    Map(
      "sink.plain_commit_s" -> Stats.mean(plain.map(_.secs)),
      "sink.compact_commit_s" -> Stats.mean(compact.map(_.secs)),
      "sink.compactions" -> compact.size.toDouble,
      "sink.delta_depth_mean" -> Stats.mean(commits.map(_.depth.toDouble)),
      "sink.bytes_written_per_doc" -> (if (docs > 0) commits.map(_.bytes).sum / docs else 0.0),
      "sink.files_per_commit" -> Stats.mean(commits.map(_.files.toDouble)))
  }

  /** Spark-engine metrics per op span (means over ops). */
  def execLayers(trace: Trace, ops: Seq[Span]): Map[String, Double] = {
    trace.flush()
    val cs = ops.map(s => s -> trace.subtree(s))
    def m(f: (Span, ExecCounters) => Double) = Stats.mean(cs.map { case (s, c) => f(s, c) })
    Map(
      "exec.jobs" -> m((_, c) => c.jobs.get.toDouble),
      "exec.stages" -> m((_, c) => c.stages.get.toDouble),
      "exec.tasks" -> m((_, c) => c.tasks.get.toDouble),
      "exec.run_s" -> m((_, c) => c.runMs.get / 1e3),
      "exec.cpu_s" -> m((_, c) => c.cpuNs.get / 1e9),
      "exec.gc_s" -> m((_, c) => c.gcMs.get / 1e3),
      "exec.shuffle_read_bytes" -> m((_, c) => c.shuffleRead.get.toDouble),
      "exec.shuffle_write_bytes" -> m((_, c) => c.shuffleWrite.get.toDouble),
      "exec.spill_bytes" -> m((_, c) => c.spill.get.toDouble),
      "exec.peak_exec_mem_bytes" ->
        cs.map(_._2.peakExecMem.get.toDouble).foldLeft(0.0)(math.max),
      "exec.busy_ratio" -> m((s, c) => math.min(1.0, c.busyNs.get / 1e9 / s.seconds)),
      "plan.analysis_s" -> m((_, c) => c.analysisNs.get / 1e9),
      "plan.optimization_s" -> m((_, c) => c.optimizationNs.get / 1e9),
      "plan.planning_s" -> m((_, c) => c.planningNs.get / 1e9),
      "plan.exchanges" -> m((_, c) => c.exchanges.get.toDouble),
      "runtime.driver_s" -> m((s, c) => math.max(0.0, s.seconds - c.busyNs.get / 1e9)),
      "runtime.jobs_per_batch" -> m((_, c) => c.jobs.get.toDouble))
  }

  /** Timed ops alternate traced / untraced in a traced run: the ratio of
    * their medians is the tracing overhead. Per-layer figures come from
    * the traced half.
    */
  def tracedOp(i: Int): Boolean = i % 2 == 0

  def overhead(opMs: Seq[Double]): Double = {
    val (on, off) = opMs.zipWithIndex.partition { case (_, i) => tracedOp(i) }
    val base = Stats.median(off.map(_._1))
    if (base == 0) 0.0 else Stats.median(on.map(_._1)) / base
  }

  /** Isolated layer timing: the layer's public function alone on one
    * batch, forced through the `noop` sink (codegen fuses the layers of
    * the real op into shared jobs, so they cannot be split there).
    */
  def isolated(trace: Trace, name: String)(df: => DataFrame): Span = {
    trace.record(name)(df.write.format("noop").mode("overwrite").save())
    trace.named(name).last
  }
}

/** `cdc_upsert`: the Paimon changelog path. Setup bulk-loads the
  * snapshot as the index base, then one staged parquet file per
  * micro-batch is handed to `PipelineRunner.runStream` over a file
  * stream (shard filter → flatten/stringify → classify/compact →
  * keyed sink). An op runs from the file hand-off until the sink's
  * commit returns.
  */
object CdcUpsert {
  import Ingest._

  val KeyCols = Seq("key", "op", "seq")
  val Strategy = ShardingStrategyFactory.create("modulo", "bucket", 2, "ingest-0")

  /** The timed conversion: shard filter, then flatten + stringify the
    * payload with key, op and order columns kept typed.
    */
  def shard(df: DataFrame): DataFrame = ShardingStrategyFactory(df, Strategy)

  def convertPayload(df: DataFrame): DataFrame = {
    val flat = Flattener.flatten(df)
    flat.select(KeyCols.map(col) ++ flat.schema.fields.toSeq
      .filterNot(f => KeyCols.contains(f.name))
      .map(f => Stringifier.stringify(col(f.name), f.dataType).as(f.name)): _*)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val trace = ctx.trace
    val t0 = System.nanoTime()
    val sink = new SignalSink(spark, ctx.path("index"))
    val runner = new PipelineRunner(PipelineConfig(indexName = "perfbench",
      batchSize = 1000, scanIntervalMs = 0L,
      checkpointLocation = ctx.path("checkpoint")), sink)
    val snapshot = spark.read.parquet(ctx.path("in/snapshot.parquet"))
    runner.processBatch(convertPayload(shard(snapshot)), "op", "key", Seq(col("seq")))
    sink.commits.clear()
    ctx.setup("load_s") = (System.nanoTime() - t0) / 1e9

    val staged = Files.list(Paths.get(ctx.path("in/staged"))).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    require(staged.size >= ctx.warmup + ctx.timed + ctx.fit,
      s"need ${ctx.warmup + ctx.timed + ctx.fit} staged files, found ${staged.size}")
    val inDir = Paths.get(ctx.path("in/stream"))
    Files.createDirectories(inDir)

    val progress = new java.util.concurrent.ConcurrentHashMap[Long, java.util.Map[String, java.lang.Long]]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e.progress.batchId, e.progress.durationMs)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val query = runner.runStream(
      convertPayload(shard(spark.readStream.schema(snapshot.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString))),
      "op", "key", Seq(col("seq")))

    /** Hand file `i` (micro-batch i) to the stream; block until its
      * commit returns. Returns (op ms, commit ns).
      */
    def handOff(i: Int): (Double, Long) = {
      val src = Paths.get(staged(i))
      val start = System.nanoTime()
      Files.move(src, inDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
      var ns: java.lang.Long = null
      while (ns == null) {
        ns = sink.commits.poll(1, TimeUnit.SECONDS)
        if (ns == null && !query.isActive)
          throw query.exception.map(e => e: Throwable)
            .getOrElse(new IllegalStateException("stream stopped"))
        if (ns == null && (System.nanoTime() - start) > 120e9)
          throw new IllegalStateException(s"micro-batch $i did not commit within 120 s")
      }
      ((System.nanoTime() - start) / 1e6, ns.longValue)
    }

    val tw = System.nanoTime()
    (0 until ctx.warmup).foreach(handOff)
    ctx.setup("warmup_s") = (System.nanoTime() - tw) / 1e9

    val docs0 = runner.metrics.totalDocs.get
    val commits = mutable.ArrayBuffer.empty[Commit]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    var usage = if (trace.enabled) dirUsage(ctx.path("index")) else (0L, 0L)
    val before = stationarity(sink)
    ctx.startTiming()
    val opMs = (0 until ctx.timed).map { j =>
      val i = ctx.warmup + j
      val d0 = runner.metrics.totalDocs.get
      if (trace.enabled && tracedOp(j)) {
        val (ms, ns) = trace.record("op") {
          trace.bindBatch(i, trace.currentSpan)
          handOff(i)
        }
        opSpans += trace.named("op").last
        val u = dirUsage(ctx.path("index"))
        commits += Commit(ns / 1e9, runner.metrics.totalDocs.get - d0,
          sink.committedDeltas.size, u._1 - usage._1, u._2 - usage._2)
        usage = u
        ms
      } else {
        val ms = handOff(i)._1
        if (trace.enabled) usage = dirUsage(ctx.path("index"))
        ms
      }
    }
    val units = runner.metrics.totalDocs.get - docs0
    val after = stationarity(sink)

    // traced run: batch-size sweep for the fixed + per-doc cost fit
    val fitPoints = (0 until ctx.fit).map { j =>
      val i = ctx.warmup + ctx.timed + j
      val d0 = runner.metrics.totalDocs.get
      val ms = handOff(i)._1
      (runner.metrics.totalDocs.get - d0).toDouble -> ms
    }
    query.stop()
    spark.streams.removeListener(listener)

    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      // isolated legs on the first timed batch file, input cached first
      val batch = spark.read.parquet(inDir.resolve(Paths.get(staged(ctx.warmup)).getFileName).toString).cache()
      val rowsIn = batch.count().toDouble
      val sharded = shard(batch).cache()
      val kept = sharded.count().toDouble
      val converted = convertPayload(sharded).cache()
      converted.count()
      val reps = 5
      val filterS = (1 to reps).map(_ => isolated(trace, "shard.filter")(shard(batch)).seconds)
      val convertS = (1 to reps).map(_ => isolated(trace, "schema.convert")(convertPayload(sharded)).seconds)
      val compactSpans = (1 to reps).map(_ => isolated(trace, "cdc.compact")(
        Changelog.compact(Changelog.classify(converted, "op"), "key", Seq(col("seq")))))
      trace.flush()
      val compacted = Changelog.compact(Changelog.classify(converted, "op"), "key", Seq(col("seq")))
      val keysOut = compacted.count().toDouble
      val deletes = compacted.filter(col("_action") === "delete").count().toDouble
      val traced = opMs.zipWithIndex.collect { case (ms, j) if tracedOp(j) => ms }
      val batchIds = (ctx.warmup until ctx.warmup + ctx.timed).filter(i => tracedOp(i - ctx.warmup))
      def dur(k: String) = Stats.mean(batchIds.flatMap(b => Option(progress.get(b.toLong)))
        .map(m => Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val (fixedMs, perDocMs) = Stats.fit(fitPoints.map(_._1), fitPoints.map(_._2))
      batch.unpersist(); sharded.unpersist(); converted.unpersist()
      execLayers(trace, opSpans.toSeq) ++ sinkLayers(commits.toSeq) ++ Map(
        "schema.convert_s" -> Stats.median(convertS),
        "schema.fields_per_doc" -> (converted.columns.length - KeyCols.size).toDouble,
        "shard.kept_ratio" -> kept / rowsIn,
        "shard.filter_s" -> Stats.median(filterS),
        "cdc.compact_s" -> Stats.median(compactSpans.map(_.seconds)),
        "cdc.rows_in" -> kept,
        "cdc.keys_out_ratio" -> keysOut / kept,
        "cdc.deletes_ratio" -> deletes / keysOut,
        "cdc.shuffle_bytes" -> Stats.mean(compactSpans.map(s => trace.subtree(s).shuffleWrite.get.toDouble)),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.planning_ms" -> dur("queryPlanning"),
        "runtime.batch_s" -> Stats.mean(traced) / 1e3,
        "runtime.retries" -> runner.metrics.retries.get.toDouble,
        "runtime.drift_ratio" -> Stats.drift(opMs, Cycle),
        "runtime.fixed_ms" -> fixedMs,
        "runtime.per_doc_us" -> perDocMs * 1e3,
        "trace.overhead_ratio" -> overhead(opMs)) ++
        ctx.setup.map { case (k, v) => s"setup.$k" -> v }
    }

    // the whole converted document of every live key, for the replay check
    sink.searchable().drop(sink.idField).write.parquet(ctx.path("out/index"))
    Outcome(opMs, units, failed = 0,
      Map("index" -> ctx.path("out/index"), "consumed" -> (ctx.warmup + ctx.timed + ctx.fit),
        "drift_ratio" -> Stats.drift(opMs, Cycle), "stationarity" -> Seq(before, after)),
      layers)
  }
}

/** `kafka_avro`: the Kafka path. The benchmark plays the consumer's
  * poll loop: it hands the next batch of Confluent-framed Avro values
  * (the binary column the Kafka source delivers) to the wire decode and
  * `PipelineRunner.processBatch`, and polls again only after the commit
  * returns. Corrupt frames go to a DLQ the benchmark counts.
  */
object KafkaAvro {
  import Ingest._

  val FrameSchema = StructType(Seq(StructField("offset", LongType), StructField("value", BinaryType)))

  def docsOf(good: DataFrame): DataFrame =
    good.select(col("doc")("id")(0).as("key"),
      col("doc")("seq")(0).cast("long").as("seq"),
      lit(Changelog.Insert).as("op"), col("schema_id"), col("doc"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val trace = ctx.trace
    val schemas = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.path("in/schemas.json")))
    val provider = SchemaProvider.fromMap(schemas.fieldNames().asScala
      .map(k => k.toInt -> schemas.get(k).toString).toMap)

    // every batch is held in memory as a local relation before timing
    val frames = spark.read.parquet(ctx.path("in/batches.parquet"))
      .orderBy("batch", "offset").collect()
    val batches: IndexedSeq[DataFrame] = frames.groupBy(_.getAs[Int]("batch")).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        spark.createDataFrame(rows.toSeq.map(r => Row(r.getAs[Long]("offset"),
          r.getAs[Array[Byte]]("value"))).asJava, FrameSchema)
      }.toIndexedSeq
    require(batches.size >= ctx.warmup + ctx.timed + ctx.fit,
      s"need ${ctx.warmup + ctx.timed + ctx.fit} batches, found ${batches.size}")

    val t0 = System.nanoTime()
    val sink = new SignalSink(spark, ctx.path("index"))
    val runner = new PipelineRunner(PipelineConfig(indexName = "perfbench"), sink)
    val (preGood, _) = KafkaAvroSource.splitDecoded(KafkaAvroSource.decodeConfluentDocs(
      spark.read.parquet(ctx.path("in/preload.parquet")), "value", provider))
    runner.processBatch(docsOf(preGood), "op", "key", Seq(col("seq")))
    sink.commits.clear()
    ctx.setup("load_s") = (System.nanoTime() - t0) / 1e9

    val dlqLog = mutable.ArrayBuffer.empty[Seq[String]]
    /** One poll: decode + DLQ split, then the keyed upsert. */
    def op(i: Int): (Double, Long, Double, Long) = {
      val start = System.nanoTime()
      val (decoded, good) = trace.span("sources.decode") {
        val decoded = KafkaAvroSource.decodeConfluentDocs(batches(i), "value", provider).cache()
        val (good, dlq) = KafkaAvroSource.splitDecoded(decoded)
        dlqLog += dlq.select("error").collect().map(_.getString(0)).toSeq
        (decoded, good)
      }
      val decodeS = (System.nanoTime() - start) / 1e9
      val n = trace.span("runtime.process_batch") {
        runner.processBatch(docsOf(good), "op", "key", Seq(col("seq")))
      }
      val ms = (System.nanoTime() - start) / 1e6
      decoded.unpersist()
      (ms, n, decodeS, sink.commits.take().longValue)
    }

    val tw = System.nanoTime()
    (0 until ctx.warmup).foreach(op)
    ctx.setup("warmup_s") = (System.nanoTime() - tw) / 1e9

    var units = 0L
    val commits = mutable.ArrayBuffer.empty[Commit]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val decodeS = mutable.ArrayBuffer.empty[Double]
    val batchS = mutable.ArrayBuffer.empty[Double]
    var usage = if (trace.enabled) dirUsage(ctx.path("index")) else (0L, 0L)
    val before = stationarity(sink)
    ctx.startTiming()
    val opMs = (0 until ctx.timed).map { j =>
      val i = ctx.warmup + j
      if (trace.enabled && tracedOp(j)) {
        val (ms, n, dec, commitNs) = trace.record("op")(op(i))
        opSpans += trace.named("op").last
        decodeS += dec
        batchS += trace.named("runtime.process_batch").last.seconds
        val u = dirUsage(ctx.path("index"))
        commits += Commit(commitNs / 1e9, n, sink.committedDeltas.size, u._1 - usage._1, u._2 - usage._2)
        usage = u
        units += n
        ms
      } else {
        val (ms, n, _, _) = op(i)
        if (trace.enabled) usage = dirUsage(ctx.path("index"))
        units += n
        ms
      }
    }

    val after = stationarity(sink)
    val fitPoints = (0 until ctx.fit).map { j =>
      val (ms, n, _, _) = op(ctx.warmup + ctx.timed + j)
      n.toDouble -> ms
    }

    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      val batch = batches(ctx.warmup)
      val recordsIn = batch.count().toDouble
      val decoded = KafkaAvroSource.decodeConfluentDocs(batch, "value", provider).cache()
      val docs = docsOf(KafkaAvroSource.splitDecoded(decoded)._1).cache()
      val good = docs.count().toDouble
      val compactSpans = (1 to 5).map(_ => isolated(trace, "cdc.compact")(
        Changelog.compact(Changelog.classify(docs, "op"), "key", Seq(col("seq")))))
      trace.flush()
      val keysOut = Changelog.compact(Changelog.classify(docs, "op"), "key", Seq(col("seq"))).count()
      decoded.unpersist(); docs.unpersist()
      val (fixedMs, perDocMs) = Stats.fit(fitPoints.map(_._1), fitPoints.map(_._2))
      execLayers(trace, opSpans.toSeq) ++ sinkLayers(commits.toSeq) ++ Map(
        "sources.decode_s" -> Stats.mean(decodeS.toSeq),
        "sources.records_in" -> recordsIn,
        "sources.dlq_rows" -> Stats.mean(dlqLog.drop(ctx.warmup).take(ctx.timed).map(_.size.toDouble).toSeq),
        "sources.decoded_ratio" -> good / recordsIn,
        "cdc.compact_s" -> Stats.median(compactSpans.map(_.seconds)),
        "cdc.rows_in" -> good,
        "cdc.keys_out_ratio" -> keysOut / good,
        "cdc.deletes_ratio" -> 0.0,
        "cdc.shuffle_bytes" -> Stats.mean(compactSpans.map(s => trace.subtree(s).shuffleWrite.get.toDouble)),
        "runtime.batch_s" -> Stats.mean(batchS.toSeq),
        "runtime.retries" -> runner.metrics.retries.get.toDouble,
        "runtime.drift_ratio" -> Stats.drift(opMs, Cycle),
        "runtime.fixed_ms" -> fixedMs,
        "runtime.per_doc_us" -> perDocMs * 1e3,
        "trace.overhead_ratio" -> overhead(opMs)) ++
        ctx.setup.map { case (k, v) => s"setup.$k" -> v }
    }

    sink.searchable().select(col("_id"), col("doc")("seq")(0).as("seq"),
        col("doc")("name")(0).as("name"), col("doc")("score")(0).as("score"),
        col("doc")("addr_city")(0).as("city"),
        coalesce(array_join(col("doc")("tags"), "|"), lit("")).as("tags"))
      .write.parquet(ctx.path("out/index"))
    Outcome(opMs, units, failed = 0,
      Map("index" -> ctx.path("out/index"), "dlq" -> dlqLog.toSeq,
        "consumed" -> (ctx.warmup + ctx.timed + ctx.fit), "drift_ratio" -> Stats.drift(opMs, Cycle),
        "stationarity" -> Seq(before, after)),
      layers)
  }
}
