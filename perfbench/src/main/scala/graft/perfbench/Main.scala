package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload over inputs generated beforehand by
  * `perfbench/run.py` and writes `<work>/result.json`.
  *
  * Arguments (all `--key value`):
  *   - `workload`  cdc_upsert | kafka_avro | query_board
  *   - `work`      run directory holding the inputs; every index,
  *                 checkpoint and temp dir of the run is created under it
  *   - `trace`     0 | 1 — 1 records spans and per-layer metrics
  *   - `warmup`, `timed`, `fit` op counts (see each workload)
  *
  * Spark settings arrive as `-Dspark.*` system properties, so the pinned
  * values live in one place (`perfbench/settings.json`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val clock = new Clock
    val t0 = System.nanoTime()
    val spark = SparkSession.builder().appName("graft-perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, work, new Trace(spark, a("trace") == "1"), clock,
      a("warmup").toInt, a("timed").toInt, a.getOrElse("fit", "0").toInt)
    ctx.setup("session_s") = (System.nanoTime() - t0) / 1e9
    val out = a("workload") match {
      case "cdc_upsert" => CdcUpsert.run(ctx)
      case "kafka_avro" => KafkaAvro.run(ctx)
      case "query_board" => QueryBoard.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val layers =
      if (ctx.trace.enabled) out.layers + ("jvm.peak_heap_mb" -> ctx.trace.peakHeapBytes / 1048576.0)
      else Map.empty
    val json = Json.obj(
      "op_ms" -> out.opMs,
      "units" -> out.units,
      "first_op_epoch_ms" -> ctx.firstOpEpochMs,
      "failed" -> out.failed,
      "checks" -> out.checks,
      "setup" -> ctx.setup.toMap,
      "layers" -> layers)
    Files.writeString(Paths.get(work, "result.json"), json)
    spark.stop()
  }
}

/** Wall clock as epoch milliseconds with nanosecond steps. */
final class Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

final case class Ctx(spark: SparkSession, work: String, trace: Trace,
    clock: Clock, warmup: Int, timed: Int, fit: Int) {
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var firstOpEpochMs: Double = 0.0
  /** Mark the end of set-up: called just before the first timed op. */
  def startTiming(): Unit = firstOpEpochMs = clock.nowMs
  def path(p: String): String = Paths.get(work, p).toString
}

/** What a workload hands back: timed op durations, the work they did
  * (docs committed or queries answered), failed ops, the outputs
  * `run.py` checks, and the per-layer metrics of a traced run.
  */
final case class Outcome(opMs: Seq[Double], units: Long, failed: Int,
    checks: Map[String, Any], layers: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares (intercept, slope) of y over x. */
  def fit(xs: Seq[Double], ys: Seq[Double]): (Double, Double) = {
    val (mx, my) = (mean(xs), mean(ys))
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val slope = if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (my - slope * mx, slope)
  }

  /** Mean of the last `chunk` values of `xs` over the mean of the first
    * `chunk` (default: a quarter). Ingest runs pass one compaction cycle,
    * so both ends hold the same mix of plain and compacting commits.
    */
  def drift(xs: Seq[Double], chunk: Int = 0): Double = {
    val q = if (chunk > 0) chunk else math.max(1, xs.size / 4)
    val first = mean(xs.take(q))
    if (first == 0) 0.0 else mean(xs.takeRight(q)) / first
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
