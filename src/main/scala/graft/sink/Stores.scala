package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The keyed commit-log protocol the five persisted incremental stores
  * ([[GeoIndex]], [[VectorIndex]], [[SignatureStore]], [[StatsStore]],
  * [[IncrementalPostings]]) share — ONE implementation of each piece,
  * so a store keeps only its own layout and fold (leg schemas, partition
  * column, what "live" means for it):
  *   - the log: numbered [[DeltaLog]] commits under `$dir/$logRoot`,
  *     listed by their `tag` leg;
  *   - the owner-resolved live view ([[ownerTable]] + [[liveView]]):
  *     id-granular last-writer-wins over the base (sequence 0) and every
  *     sealed commit leg;
  *   - fold-and-install [[compact]]: the store's [[fold]] installed as a
  *     new sealed base generation, then the folded commits GC'd;
  *   - the keyed tombstone commit ([[commitTombstones]]).
  * The reference's changelog contract (keyed last-writer-wins upserts
  * and deletes, checkpoint after the commit — PaimonIngestor.java:
  * 263-389) on each auxiliary layout.
  */
trait IncrementalStore {

  /** Commit-log root directory under the store dir. */
  protected def logRoot: String = "commits"

  /** The leg every commit of this store carries — what [[commitSeqs]]
    * lists by (and adopts pre-marker legacy commits on).
    */
  protected def tag: String = "docs"

  /** Name of the sealed base generation [[compact]] installs. */
  protected def baseName: String

  /** Read-only one-row health frame. */
  def stats(spark: SparkSession, dir: String): DataFrame

  /** Threshold-gated [[compact]]; returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String, maxDeltas: Int,
      keepGenerations: Int): Boolean

  /** Sealed commit sequences, ascending. */
  private[sink] def commitSeqs(spark: SparkSession, dir: String): Seq[Int] =
    DeltaLog.listSeqs(spark, s"$dir/$logRoot", Some(tag))

  protected def leg(spark: SparkSession, dir: String, seq: Int,
      name: String): DataFrame =
    spark.read.parquet(s"$dir/$logRoot/$seq/$name")

  /** A small driver-side frame (meta, model) written as one file. */
  protected def writeRows(spark: SparkSession, path: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  /** A rebuild starts a fresh history: everything live is in the base. */
  protected def resetLog(spark: SparkSession, dir: String): Unit = {
    DeltaLog.fs(spark, dir).delete(new Path(s"$dir/$logRoot"), true)
    DeltaLog.initRoot(spark, s"$dir/$logRoot")
  }

  /** One fenced commit at the next sequence; `write` fills the temp dir. */
  protected def commit(spark: SparkSession, dir: String,
      markerChild: String = "docs")(write: String => Unit): Int =
    DeltaLog.commit(spark, s"$dir/$logRoot",
      DeltaLog.nextSeq(spark, s"$dir/$logRoot"), markerChild,
      fenceDomain = dir)(write)

  /** One row per ever-touched `key`: the highest sequence among `seqs`
    * that wrote (or tombstoned) it. None for an empty log — base-only
    * reads skip the join entirely.
    */
  protected def ownerTable(spark: SparkSession, dir: String, seqs: Seq[Int],
      key: String): Option[DataFrame] =
    if (seqs.isEmpty) None
    else Some(seqs.map(s =>
        leg(spark, dir, s, "docs").select(col(key), lit(s).as("_live_seq")))
      .reduce(_.unionByName(_))
      .groupBy(col(key)).agg(max("_live_seq").as("_live_seq")))

  /** The LIVE rows: `base` at sequence 0 unioned with `commitLeg(s)` at
    * each `s`, keeping per `key` only the owning sequence's rows. The
    * owner table is one row per TOUCHED key — steady-state ingest touches
    * a vanishing fraction of the corpus, so it broadcasts until
    * [[compact]] folds it away. Callers prune the legs they pass (a
    * filter on `base` or on each commit leg pushes into that leg's scan);
    * the owner table is never pruned — a base row superseded by an
    * out-of-filter upsert must still lose.
    */
  protected def liveView(base: DataFrame, seqs: Seq[Int],
      owners: Option[DataFrame], key: String)(
      commitLeg: Int => DataFrame): DataFrame =
    owners.fold(base) { o =>
      seqs.foldLeft(base.withColumn("_seq", lit(0))) { (acc, s) =>
        acc.unionByName(commitLeg(s).withColumn("_seq", lit(s)))
      }
        .join(broadcast(o), Seq(key), "left")
        .filter(col("_seq") === coalesce(col("_live_seq"), lit(0)))
        .select(base.columns.map(col).toSeq: _*) // the join moved the key first
    }

  /** The store's fold of base + `seqs` into a new base: resolve the
    * views now, write them into the generation path passed in.
    */
  protected def fold(spark: SparkSession, dir: String,
      seqs: Seq[Int]): String => Unit

  /** Runs after a compaction's log GC, under the compactor's epoch. */
  protected def afterCompact(spark: SparkSession, dir: String,
      we: WriterEpoch): Unit = ()

  /** Fold all commits into a fresh base generation — the only
    * store-sized write, run as maintenance. Installed via
    * [[DeltaLog.installBase]]: written in place, sealed by the marker —
    * no directory rename, so an object-store reader never sees a
    * partial base. For the keyed stores, a crash after the install but
    * before the log GC only leaves redundant commits, which resolve
    * idempotently (each key's commit rows equal what the fold wrote to
    * the base, and last-writer-wins picks exactly one copy).
    *
    * MAINTENANCE CONTRACT (all five stores, and
    * [[ParquetIndexSink.vacuum]]): call from the owning writer's process
    * (the session epoch is reused), or pass the owner's explicit
    * [[WriterEpoch]] as `epoch`. Calling with no epoch from a SECOND JVM
    * while the writer is live ACQUIRES a fresh claim and FENCES the live
    * writer — that shape is a deliberate takeover (stop the writer
    * first). See the README runbook.
    */
  def compact(spark: SparkSession, dir: String, keepGenerations: Int = 1,
      epoch: WriterEpoch = null): Unit = {
    val seqs = commitSeqs(spark, dir)
    if (seqs.isEmpty) return
    val we = DeltaLog.resolveEpoch(spark, dir, epoch)
    DeltaLog.installBase(spark, dir, baseName, keepGenerations,
      fenceDomain = dir, epoch = we)(fold(spark, dir, seqs)): Unit
    // fenced since the install => never GC the folded log: a
    // zombie compactor must not delete commits a rival's view holds
    DeltaLog.checkFence(spark, we)
    val f = DeltaLog.fs(spark, dir)
    seqs.foreach(s => f.delete(new Path(s"$dir/$logRoot/$s"), true))
    afterCompact(spark, dir, we)
  }

  /** The empty payload leg(s) a tombstone writes beside `docs`, so every
    * commit leg is schema-complete for the live view's `unionByName`.
    * Default: one empty `baseName` leg with the current base's schema.
    */
  protected def emptyLegs(spark: SparkSession, dir: String,
      keys: DataFrame): Seq[(String, DataFrame)] = {
    val schema = spark.read
      .parquet(DeltaLog.currentBase(spark, dir, baseName)).schema
    Seq(baseName -> spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema).repartition(1))
  }

  /** ONE aggregate action rejects both commit-corrupting id shapes: a
    * null id (invisible to the equality-keyed owner join — the row could
    * never be superseded or deleted) and a duplicated id (two versions
    * would both survive the one-owner-sequence-per-id filter).
    */
  protected def requireUniqueKeys(df: DataFrame, idCol: String): Unit = {
    val g = df.agg(count(lit(1)).as("n"),
      count_distinct(col(idCol)).as("nd"),
      count(when(col(idCol).isNull, 1)).as("nn")).head()
    require(g.getLong(2) == 0 && g.getLong(0) == g.getLong(1),
      s"upsert: batch carries a null or duplicated '$idCol' " +
        s"(${g.getLong(0)} rows, ${g.getLong(1)} distinct non-null ids); " +
        "a commit owns each non-null id once — dedupe last-writer-wins " +
        "upstream")
  }

  /** Delete by key: ONE O(ids)-bytes commit in which the distinct ids of
    * `keys` (a single column, named and typed as the store's `docs` leg)
    * claim ownership with no payload — a keyed tombstone. A null id can
    * own nothing in the equality owner join, so null ids are dropped
    * (the `ParquetIndexSink.deleteByKeys` rule). Returns the sequence.
    */
  protected def commitTombstones(spark: SparkSession, dir: String,
      keys: DataFrame): Int = {
    val docs = keys.filter(col(keys.columns.head).isNotNull)
      .distinct().coalesce(1)
    val payload = emptyLegs(spark, dir, docs)
    commit(spark, dir) { tmp =>
      DeltaLog.inParallel( // independent legs → concurrent jobs (r17)
        (payload :+ ("docs" -> docs)).map { case (name, df) =>
          () => df.write.mode("overwrite").parquet(s"$tmp/$name")
        }: _*)
    }
  }
}

/** A store whose [[maybeCompact]] folds on commit-log depth alone. */
trait DepthGatedStore extends IncrementalStore {

  /** Compact iff the commit log is deeper than `maxDeltas` — the
    * auto-compaction policy an ingest loop calls after each commit.
    * Returns whether a compaction ran.
    */
  def maybeCompact(spark: SparkSession, dir: String, maxDeltas: Int = 8,
      keepGenerations: Int = 1): Boolean = {
    val rec = commitSeqs(spark, dir).length > maxDeltas
    if (rec) compact(spark, dir, keepGenerations)
    rec
  }
}

/** One dispatcher for the five persisted incremental stores, keyed by the
  * operator-facing kind names the [[graft.tools.Maintenance]] CLI and
  * [[graft.runtime.PipelineRunner]] share. Exists so retention has exactly
  * one code path from a configured `keepGenerations` to each store's
  * `compact` (and from there to `DeltaLog.installBase`) — a config knob
  * with two hand-rolled dispatch copies is how one of them goes stale.
  */
object Stores {
  val Kinds: Seq[String] = Seq("postings", "vector", "signature", "geo", "stats")

  private val byKind: Map[String, IncrementalStore] = Kinds.zip(Seq(
    IncrementalPostings, VectorIndex, SignatureStore, GeoIndex, StatsStore)).toMap

  /** The store implementing `kind`; the one unknown-kind error. */
  def apply(kind: String): IncrementalStore = byKind.getOrElse(kind,
    throw new IllegalArgumentException(
      s"unknown store kind '$kind' (expected one of ${Kinds.mkString(", ")})"))

  /** Read-only health frame for `kind` at `dir`. */
  def stats(spark: SparkSession, kind: String, dir: String): DataFrame =
    Stores(kind).stats(spark, dir)

  /** Pending (un-folded) commit count for `kind` at `dir` — one
    * metadata listing of the store's commit log, cheap enough to probe
    * between every batch.
    */
  def pendingCommits(spark: SparkSession, kind: String, dir: String): Int =
    Stores(kind).commitSeqs(spark, dir).length

  /** Threshold-gated compaction — the dispatch twin of each store's
    * `maybeCompact` hook, for callers holding only a (kind, dir) pair
    * ([[graft.runtime.PipelineRunner.maintain]]). An EMPTY commit log
    * never compacts: folding nothing would still burn a generation
    * number and rewrite the full base, so back-to-back maintenance with
    * no intervening appends is a metadata-only no-op. With pending
    * commits, the store's own policy decides: geo, vector, signature
    * and stats fold when the depth EXCEEDS `maxDeltas`; postings folds
    * when the depth REACHES `maxDeltas` (depth == `maxDeltas` already
    * folds) or its touched-docs fraction trips. `maxDeltas = 0`
    * therefore means "fold whenever anything is pending" for every
    * kind, the amortization-free per-batch posture. Returns whether a
    * compaction ran.
    */
  def maybeCompact(spark: SparkSession, kind: String, dir: String,
      maxDeltas: Int = 0, keepGenerations: Int = 1): Boolean = {
    val store = Stores(kind)
    store.commitSeqs(spark, dir).nonEmpty &&
      store.maybeCompact(spark, dir, maxDeltas, keepGenerations)
  }

  /** Fold `kind`'s pending commits into a fresh sealed base generation,
    * keeping `keepGenerations` previous generations alive for in-flight
    * readers (the reader-lease bound — see `DeltaLog.installBase`). A
    * MUTATION: resolves this JVM's session epoch for `dir` (or acquires
    * one), so calling from a second JVM against a live writer fences it.
    */
  def compact(spark: SparkSession, kind: String, dir: String,
      keepGenerations: Int): Unit =
    Stores(kind).compact(spark, dir, keepGenerations)
}
