package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.sink.{DocQueries, ParquetIndexSink}

/** `query_board`: the read side. One op is one pass over a fixed,
  * ordered list: the board rows (`SparkEntry.queries` entries), then the
  * search leg — six
  * `DocQueries` calls on the merge-on-read view of a `ParquetIndexSink`
  * whose delta log holds `Deltas` commits. Each row is drained through
  * its physical plan and timed on its own; temp dirs are drained between
  * rows and checkpoint blocks released between passes, outside the
  * timer. The pass time is the sum of its row times.
  */
object QueryBoard {
  /** Delta commits left in the search index (below `maxDeltas` = 8, so
    * reads always merge base + deltas and nothing compacts).
    */
  val Deltas = 3

  val Searches: Seq[(String, DataFrame => DataFrame)] = Seq(
    "term" -> (i => DocQueries.term(i, "lang", "en")),
    "term_in_set" -> (i => DocQueries.termInSet(i, "lang", Seq("de", "fr"))),
    "bm25" -> (i => DocQueries.matchTextBM25(i, "_id", "text", "merge window scan", 20)
      .withColumn("bm25", round(col("bm25"), 6))),
    "phrase" -> (i => DocQueries.matchPhrase(i, "text", "merge window")),
    "range" -> (i => DocQueries.range(i, "n_chars", Some(100L), Some(300L))),
    "bool" -> (i => DocQueries.boolQuery(i, "text", must = Seq("spark"),
      should = Seq("merge", "window"), mustNot = Seq("slow"))))

  /** Board family of a row, for the per-family time split. */
  def family(row: String): String = row match {
    case r if r.startsWith("q_") => "search"
    case r if r.startsWith("x_dedup") || r.startsWith("x_winnow") => "dedup"
    case r if r.startsWith("x_geo") => "geo"
    case r if r.startsWith("x_sim") || r.startsWith("x_knn") || r.startsWith("x_embed") => "sim"
    case r if r.startsWith("ws_") || r.startsWith("x_session") || r.startsWith("x_asof") => "ws"
    case r if r.startsWith("x_") => "text"
    case _ => "agg"
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val trace = ctx.trace
    /** Execute `df` fully (its physical plan, as the board does) and
      * return the digest of its result.
      */
    def drain(df: DataFrame): Digest = {
      val d = Digest.of(df)
      trace.recordPlan(df.queryExecution)
      d
    }
    val d = ctx.path("in/tables")
    val rows = Files.readAllLines(Paths.get(ctx.path("in/board_rows.txt"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val missing = rows.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown board rows: ${missing.mkString(", ")}")

    // search index: bulk-loaded base + `Deltas` delta commits
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, d).withColumn("_id", col("doc_id").cast("string"))
    val nDocs = docs.count()
    val sink = new ParquetIndexSink(spark, ctx.path("index"))
    sink.addDocuments(docs); sink.commit()
    (1 to Deltas).foreach { k =>
      sink.addDocuments(docs.filter(pmod(col("doc_id"), lit(37)) === k)
        .withColumn("text", concat(col("text"), lit(" merge window"))))
      sink.deleteByIds((0 until 5).map(j => ((k * 53 + j * 7) % nDocs).toString))
      sink.commit()
    }
    ctx.setup("load_s") = (System.nanoTime() - t0) / 1e9

    /** One pass: (ms, per-row result digests, per-row seconds). */
    def pass(): (Double, Seq[Digest], Seq[(String, Double)]) = {
      val digests = mutable.ArrayBuffer.empty[Digest]
      val secs = mutable.ArrayBuffer.empty[(String, Double)]
      rows.foreach { name =>
        val t = System.nanoTime()
        val n = trace.span(s"row:$name")(drain(SparkEntry.queries(name)(spark, d)))
        secs += name -> (System.nanoTime() - t) / 1e9
        digests += n
        SparkEntry.drainTempDirs()
      }
      val t = System.nanoTime()
      val idx = trace.span("sink.searchable")(sink.searchable())
      Searches.foreach { case (q, f) => digests += trace.span(s"search:$q")(drain(f(idx))) }
      secs += "search_leg" -> (System.nanoTime() - t) / 1e9
      SparkEntry.releaseCheckpointBlocks()
      // Spark's ContextCleaner frees shuffle files and broadcast blocks
      // only once the driver objects behind them are garbage collected;
      // a collection between passes keeps them from piling up over a run
      System.gc()
      (secs.map(_._2).sum * 1e3, digests.toSeq, secs.toSeq)
    }

    val tw = System.nanoTime()
    (0 until ctx.warmup).foreach(_ => pass())
    ctx.setup("warmup_s") = (System.nanoTime() - tw) / 1e9

    val opSpans = mutable.ArrayBuffer.empty[Span]
    ctx.startTiming()
    val timed = (0 until ctx.timed).map { j =>
      if (trace.enabled && Ingest.tracedOp(j)) {
        val r = trace.record("op")(pass())
        opSpans += trace.named("op").last
        r
      } else pass()
    }
    val opMs = timed.map(_._1)

    // correctness, all after timing: each board row's result goes to
    // parquet for the DuckDB oracle check, and the digest of that checked
    // output is the row's reference; the search leg's reference is one
    // more merge-on-read execution, whose answers must equal the same
    // queries once the delta log is compacted into the base. A timed pass
    // whose digests differ from the references is a failed op.
    val oracle = SparkEntry.oracleSql
    val rowRefs = rows.map { name =>
      val out = ctx.path(s"out/board/$name")
      SparkEntry.queries(name)(spark, d).coalesce(1).write.parquet(out)
      SparkEntry.drainTempDirs()
      Digest.of(spark.read.parquet(out))
    }
    def answers() = Searches.map { case (_, f) => Digest.of(f(sink.searchable())) }
    val searchRefs = answers()
    val expected = rowRefs ++ searchRefs
    val failed = timed.count(_._2 != expected)
    val wrongRows = timed.flatMap(_._2.zip(rows ++ Searches.map(_._1)).zip(expected)
      .collect { case ((got, name), want) if got != want => name }).distinct
    val readFiles = sink.searchable().inputFiles.length
    sink.compactDeltas()
    val mismatched = Searches.map(_._1).zip(searchRefs.zip(answers()))
      .collect { case (q, (a, b)) if a != b => q }
    Files.writeString(Paths.get(ctx.path("out/oracle_sql.json")),
      Json.render(rows.flatMap(r => oracle.get(r).map(r -> _)).toMap))

    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      val traced = timed.zipWithIndex.collect { case (r, j) if Ingest.tracedOp(j) => r }
      val perFamily = traced.flatMap(_._3).filter(_._1 != "search_leg")
        .groupBy { case (r, _) => family(r) }
        .map { case (f, xs) => s"board.${f}_s" -> xs.map(_._2).sum / traced.size }
      trace.flush()
      val searchSpans = trace.spans.filter(_.name.startsWith("search:"))
      Ingest.execLayers(trace, opSpans.toSeq) ++
        perFamily ++ Map(
        "board.search_s" -> (perFamily.getOrElse("board.search_s", 0.0) +
          Stats.mean(traced.flatMap(_._3).filter(_._1 == "search_leg").map(_._2))),
        "sink.searchable_s" -> Stats.mean(trace.named("sink.searchable").map(_.seconds)),
        "sink.read_bytes_per_query" ->
          Stats.mean(searchSpans.map(s => trace.subtree(s).inputBytes.get.toDouble)),
        "sink.read_files_per_query" -> readFiles.toDouble,
        "runtime.drift_ratio" -> Stats.drift(opMs),
        "trace.overhead_ratio" -> Ingest.overhead(opMs)) ++
        ctx.setup.map { case (k, v) => s"setup.$k" -> v }
    }

    val queriesPerPass = rows.size + Searches.size
    Outcome(opMs, timed.size.toLong * queriesPerPass, failed,
      Map("board_dir" -> ctx.path("out/board"), "oracle" -> ctx.path("out/oracle_sql.json"),
        "search_mismatch" -> mismatched, "digest_mismatch" -> wrongRows,
        "drift_ratio" -> Stats.drift(opMs)),
      layers)
  }
}

/** Content digest of a query result: row count and the order-independent
  * sum of each row's xxHash64 over its `UnsafeRow` bytes, with the
  * columns taken in name order (compaction rewrites an index with another
  * column order). It is folded into the same job that executes the query,
  * so a timed pass is checked on the rows it actually produced; the extra
  * cost is one projection and one hash per result row.
  */
final case class Digest(rows: Long, hash: Long)

object Digest {
  def of(df: DataFrame): Digest = {
    val byName = df.queryExecution.executedPlan.output.zipWithIndex.sortBy(_._1.name)
      .map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(byName)
      var (n, h) = (0L, 0L)
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
