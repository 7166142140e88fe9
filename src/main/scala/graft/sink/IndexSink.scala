package graft.sink

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.cdc.Changelog

/** The sink contract the reference engine drives (SURVEY §2.6): exactly
  * four operations against a keyed index —
  * `addDocuments` (upsert by `_id`), `commit`, `deleteByQuery`
  * (key-set delete), and the `_id` field definition.
  *
  * Implementations must make re-adding an existing `_id` replace the old
  * document (Lucene `updateDocument` semantics — E2E-asserted by the
  * reference: final version wins across snapshots, INSERT→DELETE→INSERT
  * leaves exactly one doc). That upsert idempotence is what makes
  * at-least-once replay safe (SURVEY §7.4 risk 3).
  */
/** What a [[ParquetIndexSink.vacuum]] deleted — or, with `dryRun`,
  * WOULD delete: the read-only pre-flight for a maintenance operator
  * checking retention before touching a live store. Paths are absolute.
  */
final case class VacuumReport(
    retainedVersions: Seq[Long],
    dataDirs: Seq[String],
    deltaDirs: Seq[String],
    manifests: Seq[String],
    dryRun: Boolean,
    /** Commit dirs left empty by the bucket deletes and removed too. A
      * dry run PREDICTS these (every snapshot bucket dead ⇒ the dir
      * would empty); the one divergence from a real vacuum is a rival
      * repopulating the dir between snapshot and delete — the real run
      * re-lists and refuses, the prediction cannot see the future.
      */
    commitDirs: Seq[String] = Nil)

trait IndexSink {
  def idField: String = "_id"

  /** Upsert a batch of documents keyed by [[idField]]. Returns a
    * monotonically increasing sequence number (reference: Lucene seqnum).
    */
  def addDocuments(docs: DataFrame): Long

  /** Delete every document whose id is in the set (TermInSetQuery). */
  def deleteByIds(ids: Seq[String]): Unit

  /** Delete by a distributed key set — the scale path for unbounded
    * delete batches (no driver materialization). Default falls back to
    * the bounded-id form; MERGE-capable sinks override with an anti-join.
    */
  def deleteByKeys(ids: DataFrame): Unit = {
    val c = ids.columns.head
    // drop null keys: String.valueOf(null) would delete a document whose
    // id is literally "null"
    deleteByIds(ids.select(c).filter(col(c).isNotNull).distinct()
      .collect().map(r => String.valueOf(r.get(0))).toSeq)
  }

  /** Stage a changelog already folded to ONE row per key: [[idField]],
    * `_op` ∈ {u, d} and the doc columns. With one row per key the delete
    * set and the upsert set are disjoint, so this default split is
    * correct for any sink. [[commit]] must evaluate the frame.
    */
  def applyChanges(changes: DataFrame): Unit = {
    val live = col(IndexSink.OpCol) === "u"
    deleteByKeys(changes.filter(!live).select(idField))
    addDocuments(changes.filter(live).drop(IndexSink.OpCol))
  }

  /** Make all preceding adds/deletes durable + visible. */
  def commit(): Unit

  /** Current committed view of the index. */
  def searchable(): DataFrame
}

object IndexSink {
  /** Op column of folded changes and delta files: "u" upsert, "d" delete. */
  val OpCol = "_op"
}

/** Driver-side keyed store for tests: a plain map guarded by a lock.
  * Mirrors the reference's E2E in-process index. NOT a scale path — the
  * scale path is [[ParquetIndexSink]] / any MERGE-capable table format.
  */
final class InMemoryIndexSink(spark: SparkSession, schema: org.apache.spark.sql.types.StructType)
    extends IndexSink {
  private val store = scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.Row]()
  private var committed: Seq[org.apache.spark.sql.Row] = Nil
  private var seq = 0L

  override def addDocuments(docs: DataFrame): Long = synchronized {
    val idIdx = docs.schema.fieldIndex(idField)
    docs.collect().foreach { r => store(r.getString(idIdx)) = r; seq += 1 }
    seq
  }
  override def deleteByIds(ids: Seq[String]): Unit = synchronized {
    ids.foreach(store.remove)
  }
  override def commit(): Unit = synchronized { committed = store.values.toSeq }
  override def searchable(): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(committed.toList), schema)
}

/** Scale-path sink: a key-hash-BUCKETED parquet index with an append-only
  * manifest log and MERGE-ON-READ deltas, merged with the relational MERGE
  * from [[Changelog]].
  *
  * Layout under `path`:
  * {{{
  *   _manifests/v{N}.json            // append-only commit log; max N = current
  *   data/c{N}-{attempt}/gbucket={B}/... // immutable BASE parquet (bulk loads
  *                                       //   + compactions), bucketed by key
  *   delta/c{N}-{attempt}/...            // immutable per-commit DELTA parquet:
  *                                       //   one row per key, `_op` ∈ {u,d}
  *                                       //   (upsert doc | delete tombstone),
  *                                       //   `_dv` = commit version
  * }}}
  *
  * Write path (the round-2 design rewrote every touched bucket per commit —
  * at ~1 GB production buckets a 1,500-doc micro-batch re-wrote ~1.5 TB;
  * this is the merge-on-read replacement):
  *   - The FIRST load (no committed base, no deltas) writes the batch as
  *     the bucketed base directly — a bulk load IS its own compaction.
  *   - Every later commit appends its pending ops, folded to one row per
  *     key, as a flat delta dir: **O(batch) bytes and files, regardless of
  *     index size**. No base file is read or written. A commit whose fold
  *     is empty publishes no version.
  *   - [[compactDeltas]] (run automatically once the delta log exceeds
  *     `maxDeltas`, or invoked as a maintenance job) folds the delta log
  *     into the base: it reads ONLY the buckets the delta keys touch,
  *     anti-joins the delta keys, unions the surviving upserts, rewrites
  *     those buckets, and clears the log — O(batch-history + touched-bucket
  *     bytes), amortized over the commits in the log.
  *
  * Read path ([[searchable]]): base buckets anti-join the delta keys, union
  * the latest live delta row per key (`_dv` desc). The per-key resolution
  * shuffles only the DELTA rows (bounded by `maxDeltas` commits); the base
  * is scanned, never shuffled — the anti-join's delta side is small enough
  * to broadcast. Production sizes `numBuckets` so a bucket is ~1 GB
  * (100 TB → ~100k buckets); tests use the small default.
  *
  * The manifest file itself is the atomic commit point: it is written to a
  * temp name and renamed into place via Hadoop `FileSystem.rename`
  * (atomic on HDFS; on S3A a single PUT is all-or-nothing), and a rename
  * onto an existing manifest fails — detecting concurrent committers.
  * No mutable `_VERSION` pointer exists (the round-1 design's
  * local-`java.io.File` pointer was not object-store-safe).
  *
  * A delete-only first commit (no schema yet) publishes an empty v0 so
  * `searchable()` returns an empty one-column (`_id`) view rather than
  * throwing — Lucene's commit-on-empty-index semantics.
  */
class ParquetIndexSink(spark: SparkSession, path: String, numBuckets: Int = 16,
    maxDeltas: Int = 8)
    extends IndexSink {
  import IndexSink.OpCol
  import ParquetIndexSink._

  /** Pending operations in CALL ORDER — a delete issued after an upsert
    * of the same key must win, exactly like the serial index the
    * reference drives (an earlier draft folded all deletes before all
    * upserts, silently resurrecting add-then-delete keys).
    */
  private sealed trait Op
  private case class Upsert(df: DataFrame) extends Op
  private case class Delete(keys: DataFrame) extends Op
  private case class Changes(df: DataFrame) extends Op

  private var ops: Vector[Op] = Vector.empty
  private var seq = 0L

  private def fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new HPath(path, "_manifests")

  /** Writer fencing, the [[DeltaLog]] epoch ledger on the sink's own
    * root: the manifest's no-overwrite rename already makes two racing
    * COMMITS first-writer-wins, but [[vacuum]] reads the latest
    * manifest and then DELETES — a zombie maintenance job holding a
    * stale view could GC the data files a newer writer's manifest
    * references (the same zombie-GC hazard the store family's fencing
    * closes). Every mutation resolves the per-JVM session epoch and
    * re-checks it at the visibility/delete points; a fenced process
    * dies with [[FencedWriterException]]. Reads never touch the ledger.
    *
    * `epoch`, when non-null, is an explicit claim passed through by a
    * MAINTENANCE caller (see [[vacuum]]) instead of this JVM's session
    * epoch — resolving with null from a fresh JVM would ACQUIRE a new
    * epoch and fence the live writer, making the maintenance tool the
    * zombie-maker.
    */
  private def fenceCheck(epoch: WriterEpoch = null): Unit =
    DeltaLog.checkFence(spark, DeltaLog.resolveEpoch(spark, path, epoch))

  /** Committed manifest versions, ascending — the append-only manifest
    * log IS the index history ([[vacuum]] prunes it to the latest).
    */
  def history(): Seq[Long] = {
    val f = fs
    if (!f.exists(manifestDir)) Nil
    else f.listStatus(manifestDir).toSeq
      .flatMap(s => s.getPath.getName match {
        case ManifestName(n) => Some(n.toLong)
        case _ => None
      }).sorted
  }

  /** Latest committed manifest, if any (max N over `_manifests/v{N}.json`). */
  private def readManifest(): Option[Manifest] =
    history().lastOption.flatMap(readManifestAt)

  private def readManifestAt(v: Long): Option[Manifest] = {
    val f = fs
    val p = new HPath(manifestDir, s"v$v.json")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Some(Manifest.fromJson(new String(bytes, "UTF-8")))
    }
  }

  /** Publish manifest v{N}: temp write + no-overwrite rename as the
    * commit point. `FileContext.rename` WITHOUT `Options.Rename.OVERWRITE`
    * refuses an existing destination (atomically on HDFS; via an
    * exists-check on filesystems whose primitive rename overwrites, which
    * leaves a millisecond TOCTOU window there — the readback below closes
    * the common interleaving, and per-attempt data dirs mean even a lost
    * manifest race can never corrupt data files, only drop one commit,
    * which at-least-once replay re-delivers). Failures that are NOT an
    * existing destination (unsupported scheme, transient I/O) propagate
    * as themselves — they are not concurrent commits.
    */
  private[sink] def writeManifest(m: Manifest,
      epoch: WriterEpoch = null): Unit = {
    fenceCheck(epoch) // the visibility point — a fenced writer never publishes
    val f = fs
    f.mkdirs(manifestDir)
    val tmp = new HPath(manifestDir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(m.toJson.getBytes("UTF-8")) finally out.close()
    val dest = new HPath(manifestDir, s"v${m.version}.json")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dest.toUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(f.makeQualified(tmp), f.makeQualified(dest))
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"concurrent commit detected: manifest v${m.version} already exists at $path", e)
      case e: Throwable =>
        f.delete(tmp, false)
        throw e
    }
    // readback verify: detect a racer that overwrote between our rename
    // and now (non-atomic-rename filesystems only)
    val in = f.open(dest)
    val back = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    if (!java.util.Arrays.equals(back, m.toJson.getBytes("UTF-8")))
      throw new IllegalStateException(
        s"lost commit race: manifest v${m.version} at $path was replaced by a concurrent committer")
  }

  private def requireUnreserved(docs: DataFrame): Unit =
    Seq(BucketCol, OpCol, DeltaVerCol, SeqCol, OpSeqCol).foreach { c =>
      require(!docs.columns.contains(c), s"'$c' is a reserved column name in ParquetIndexSink")
    }

  override def addDocuments(docs: DataFrame): Long = synchronized {
    requireUnreserved(docs)
    ops :+= Upsert(docs)
    seq += 1; seq
  }
  override def applyChanges(changes: DataFrame): Unit = synchronized {
    requireUnreserved(changes.drop(OpCol))
    ops :+= Changes(changes)
  }
  override def deleteByIds(ids: Seq[String]): Unit =
    deleteByKeys(spark.createDataset(ids)(Encoders.STRING).toDF(idField))
  override def deleteByKeys(ids: DataFrame): Unit = synchronized {
    ops :+= Delete(ids)
  }

  /** Fold the pending ops to ONE delta row per key. A lone [[applyChanges]]
    * frame is folded already; any other op list goes through one per-key
    * window ordered by (op call order, row order inside the op): the LAST
    * op wins, so an add-then-delete key dies and a delete-then-add key
    * lives. The window shuffles only the batch.
    */
  private def foldOpsToDelta(s: StructType): DataFrame = ops match {
    case Vector(Changes(df)) => asDelta(df, s)
    case _ =>
      val staged = ops.zipWithIndex.map { case (op, i) =>
        asDelta(asChanges(op), s).withColumn(OpSeqCol, lit(i))
          .withColumn(SeqCol, monotonically_increasing_id())
      }
      Changelog.compact(staged.reduce(_.unionByName(_)), idField,
        Seq(col(OpSeqCol), col(SeqCol))).drop(OpSeqCol, SeqCol)
  }

  /** A pending op as a changes frame: `_id`, `_op` and any doc columns. */
  private def asChanges(op: Op): DataFrame = op match {
    case Upsert(df) => df.withColumn(OpCol, lit("u"))
    case Delete(keys) =>
      keys.select(col(keys.columns.head).cast("string").as(idField), lit("d").as(OpCol))
    case Changes(df) => df
  }

  /** A changes frame as delta rows of schema `s` + `_op`: absent and
    * tombstone doc columns null, NULL delete keys dropped. A NULL `_id`
    * upsert is a hard error raised executor-side BEFORE any file lands
    * (silently hashing null would strand the row in a
    * `__HIVE_DEFAULT_PARTITION__` dir and fail the commit late).
    */
  private def asDelta(df: DataFrame, s: StructType): DataFrame = {
    val live = col(OpCol) === "u"
    val nullIdMsg =
      s"ParquetIndexSink: upsert batch contains a NULL '$idField' — " +
        s"the index primary key is required on every document"
    df.filter(col(idField).isNotNull || live).select(s.fields.toSeq.map { f =>
      val c =
        if (f.name == idField)
          when(col(f.name).isNull, raise_error(lit(nullIdMsg)).cast(f.dataType))
            .otherwise(col(f.name).cast(f.dataType))
        else if (!df.columns.contains(f.name)) lit(null).cast(f.dataType)
        else when(live, col(f.name))
      c.as(f.name)
    } :+ col(OpCol): _*)
  }

  override def commit(): Unit = synchronized {
    if (ops.isEmpty) return
    fenceCheck() // before the bucket/delta writes AND the manifest PUT
    val prev = readManifest()
    // bucket modulus is fixed at index creation: reopening with a different
    // numBuckets must keep the committed layout readable
    val nb = prev.map(_.numBuckets).getOrElse(numBuckets)

    // width-only schema evolution: the committed schema is the union (by
    // name) of the previous schema and every pending upsert's schema —
    // documents written before a column existed read as null (parquet
    // fills absent columns), new documents may omit old columns. A TYPE
    // change for an existing name is refused loudly.
    val schema: Option[StructType] =
      (prev.flatMap(_.schema).toSeq ++ ops.collect {
        case Upsert(df) => df.schema
        case Changes(df) => StructType(df.schema.filterNot(_.name == OpCol))
      }).reduceOption(ParquetIndexSink.mergeSchemas)
    val version = prev.map(_.version + 1).getOrElse(0L)
    val prevBuckets = prev.map(_.buckets).getOrElse(Map.empty[Int, String])
    val prevDeltas = prev.map(_.deltas).getOrElse(Nil)

    schema match {
      case None =>
        // delete-only before any schema is known: publish an empty v0 so a
        // successful commit always yields a searchable (empty) index
        writeManifest(Manifest(version, nb, None, prevBuckets, prevDeltas,
          kind = "empty"))
        ops = Vector.empty
      case Some(s) =>
        val rows = Observation() // the write's own row count
        val folded = foldOpsToDelta(s).observe(rows, count(lit(1)).as("n"))
        val load = prevBuckets.isEmpty && prevDeltas.isEmpty
        // per-attempt dir suffix: concurrent committers racing to the same
        // version never overwrite each other's files — the loser's orphan
        // dir is vacuum()ed
        val dir = s"${if (load) "data" else "delta"}/c$version-${attemptId()}"
        if (load)
          // initial load: the batch IS the index — write it straight as the
          // bucketed base (a bulk load is its own compaction; routing it
          // through the delta log would just re-write it on first compact).
          writeBuckets(folded.filter(col(OpCol) === "u").drop(OpCol), nb, dir)
        else
          // steady state: append ONE flat delta dir — O(batch) bytes/files,
          // no base file read or written, regardless of index size.
          folded.withColumn(DeltaVerCol, lit(version))
            .write.mode("overwrite").parquet(s"$path/$dir")
        // an empty fold changes nothing: it publishes no version
        val empty = rows.get("n") == 0L
        if (empty) fs.delete(new HPath(path, dir), true)
        else writeManifest(
          if (load) Manifest(version, nb, Some(s), listBucketDirs(dir), Nil, kind = "load")
          else Manifest(version, nb, Some(s), prevBuckets, prevDeltas :+ dir, kind = "delta"))
        ops = Vector.empty
        // bound read amplification: fold the log into the base once it
        // grows past maxDeltas commits (amortized maintenance, same unit
        // of work a LSM/Lucene segment merge schedules in the background).
        // The commit itself is ALREADY durable (manifest published above):
        // a compaction failure must not fail it — a caller replaying the
        // "failed" batch would append the same delta again every attempt,
        // growing the log without bound while the stream never advances.
        // Warn loudly and leave the log for the next commit / an explicit
        // compactDeltas() maintenance run to retry.
        if (!empty && prevDeltas.size + 1 > maxDeltas) {
          try compactDeltas()
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] delta compaction failed at $path (commit v$version " +
                  s"is durable; log depth ${prevDeltas.size + 1} > $maxDeltas " +
                  s"remains until a later compaction succeeds): $e")
          }
        }
    }
  }

  /** Fold the delta log into the bucketed base and clear it. Reads ONLY
    * the buckets the delta keys touch (manifest-pruned) plus the deltas
    * themselves; rewrites those buckets; publishes a manifest with an
    * empty delta log. O(delta bytes + touched-bucket bytes) — the
    * amortized cost the per-commit path no longer pays. Safe no-op when
    * the log is empty. Pending uncommitted ops are refused: compact
    * between batches, not inside one.
    */
  def compactDeltas(): Unit = synchronized {
    require(ops.isEmpty, "compactDeltas with pending uncommitted ops; commit first")
    val prev = readManifest().getOrElse(return)
    if (prev.deltas.isEmpty) return
    val s = prev.schema.getOrElse(
      // deltas are only ever written once a schema exists
      throw new IllegalStateException(s"delta log without a schema at $path"))
    val nb = prev.numBuckets
    val resolved = resolveDeltas(prev, s).cache()
    try {
      // touched buckets: one distinct-agg over the delta keys (≤ numBuckets
      // ints — driver-safe; the delta log is bounded by maxDeltas commits)
      val touched: Set[Int] = resolved
        .select(bucketOf(col(idField), nb).as("_b")).distinct()
        .collect().map(_.getInt(0)).toSet
      val merged = readDirs(s, touched.toSeq.sorted.flatMap(prev.buckets.get))
        .join(resolved.select(idField), Seq(idField), "left_anti")
        .unionByName(resolved.filter(col(OpCol) === "u")
          .select(s.fieldNames.toSeq.map(col): _*))
      val version = prev.version + 1
      val commitDir = s"data/c$version-${ParquetIndexSink.attemptId()}"
      writeBuckets(merged, nb, commitDir)
      // a touched bucket with zero surviving docs writes no dir → it
      // drops out of the manifest entirely
      writeManifest(Manifest(version, nb, Some(s),
        (prev.buckets -- touched) ++ listBucketDirs(commitDir), Nil,
        kind = "compact"))
    } finally resolved.unpersist()
  }

  /** Latest op per key across the delta log (`_dv` desc): columns = the
    * committed schema + `_op`. Within one delta each key is unique, so
    * `_dv` alone is a total order per key.
    */
  private def resolveDeltas(m: Manifest, s: StructType): DataFrame = {
    Changelog.compact(readDirs(deltaSchema(s), m.deltas), idField,
      Seq(col(DeltaVerCol))).drop(DeltaVerCol)
  }

  /** Parquet dirs (relative to the index root) read with schema `s`. */
  private def readDirs(s: StructType, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    else spark.read.schema(s).parquet(dirs.map(rel => s"$path/$rel"): _*)

  /** Delta-file columns: the doc schema `s` + `_op` + `_dv`. */
  private def deltaSchema(s: StructType): StructType =
    StructType(s.fields.toSeq :+ StructField(OpCol, StringType) :+ StructField(DeltaVerCol, LongType))

  private def bucketOf(id: Column, nb: Int): Column =
    pmod(xxhash64(id.cast("string")), lit(nb.toLong)).cast("int")

  /** Write `df` as the bucketed base dir `commitDir`. Shuffle by bucket
    * first: without it, every task writes a file per bucket it happens to
    * see (tasks × buckets tiny files — measured 4× slower at sf0.1); with
    * it, each bucket is one task writing one file (~1 GB in production).
    */
  private def writeBuckets(df: DataFrame, nb: Int, commitDir: String): Unit =
    df.withColumn(BucketCol, bucketOf(col(idField), nb)).repartition(col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$path/$commitDir")

  /** Bucket map of a freshly written `data/c{N}-{attempt}` dir. */
  private def listBucketDirs(commitDir: String): Map[Int, String] =
    fs.listStatus(new HPath(s"$path/$commitDir")).toSeq
      .map(_.getPath.getName).collect {
        case n if n.startsWith(s"$BucketCol=") =>
          n.stripPrefix(s"$BucketCol=").toInt -> s"$commitDir/$n"
      }.toMap

  override def searchable(): DataFrame = readManifest() match {
    case None =>
      throw new IllegalStateException(s"index at $path has no committed version")
    case Some(m) => viewOf(m)
  }

  /** Time travel: the committed view AS OF manifest version `v`. Every
    * manifest references only immutable dirs, so any version in
    * [[history]] reconstructs exactly — until [[vacuum]], which (like
    * Delta/Iceberg retention) prunes non-latest manifests and the dirs
    * only they reference.
    */
  def searchableAt(version: Long): DataFrame = readManifestAt(version) match {
    case None => throw new IllegalArgumentException(
      s"no committed manifest v$version at $path " +
        s"(history: ${history().mkString(", ")})")
    case Some(m) => viewOf(m)
  }

  /** Change-data feed: every logical change committed AFTER `version`,
    * in commit order — the folded one-row-per-key-per-commit
    * upsert/delete stream the index itself applies (the Delta-CDF
    * analogue), read straight off the immutable dirs the manifest log
    * references: zero write-path cost, O(changed rows) read cost. The
    * reference CONSUMES a changelog to build the index; this closes the
    * loop by letting the index PRODUCE one for downstream consumers.
    *
    * Columns: committed schema + `_op` ("u" upsert / "d" delete
    * tombstone) + `_dv` (commit version). A bulk load surfaces as an
    * upsert of every loaded row; compact/rebucket/empty commits change
    * nothing and contribute no rows. Fails loudly when the range is no
    * longer reconstructable ([[vacuum]] pruned it, or the index predates
    * the manifest `kind` field).
    */
  def changesSince(version: Long): DataFrame = {
    val latest = readManifest().getOrElse(throw new IllegalStateException(
      s"index at $path has no committed version"))
    require(version <= latest.version,
      s"changesSince($version): latest committed version is ${latest.version}")
    val have = history().toSet
    val want = ((version + 1) to latest.version).toSeq
    val missing = want.filterNot(have.contains)
    require(missing.isEmpty,
      s"changesSince($version): manifest(s) v${missing.mkString(", v")} " +
        s"were vacuumed away — the feed reconstructs only back to " +
        s"v${history().headOption.getOrElse(-1L)}")
    val outSchema = deltaSchema(latest.schema.getOrElse(StructType(Nil)))
    // width evolution: align every commit's frame to the LATEST schema
    // (absent-then columns read as null, like the merge-on-read view)
    def align(df: DataFrame): DataFrame =
      df.select(outSchema.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    val frames = want.flatMap { w =>
      val m = readManifestAt(w).get
      m.kind match {
        case "delta" =>
          val dir = m.deltas.lastOption.getOrElse(throw new IllegalStateException(
            s"delta manifest v$w lists no delta dir at $path"))
          Some(align(readDirs(deltaSchema(m.schema.get), Seq(dir))))
        case "load" if m.buckets.nonEmpty =>
          Some(align(readDirs(m.schema.get, m.buckets.toSeq.sortBy(_._1).map(_._2))
            .withColumn(OpCol, lit("u"))
            .withColumn(DeltaVerCol, lit(w))))
        case "load" | "empty" | "compact" | "rebucket" => None
        case other => throw new IllegalStateException(
          s"manifest v$w has kind '$other' — change feed unavailable " +
            "(index written before commit kinds were recorded)")
      }
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(readDirs(outSchema, Nil))
  }

  private def viewOf(m: Manifest): DataFrame = {
      val s = m.schema.getOrElse(StructType(Seq(StructField(idField, StringType))))
      val base = readDirs(s, m.buckets.toSeq.sortBy(_._1).map(_._2))
      if (m.deltas.isEmpty) base
      else {
        // merge-on-read: base minus every delta-touched key, plus the
        // latest live delta row per key. The anti-join's right side is the
        // (small, maxDeltas-bounded) delta key set — broadcastable; the
        // base is scanned once, never shuffled.
        val latest = resolveDeltas(m, s)
        base.join(latest.select(idField), Seq(idField), "left_anti")
          .unionByName(latest.filter(col(OpCol) === "u")
            .select(s.fieldNames.toSeq.map(col): _*))
      }
  }

  /** Current committed bucket map — exposed for tests asserting that a
    * commit leaves base buckets' files physically untouched.
    */
  def committedBuckets: Map[Int, String] =
    readManifest().map(_.buckets).getOrElse(Map.empty)

  /** Current delta log (relative dirs, commit order) — exposed for tests
    * asserting a small commit appends O(batch) bytes.
    */
  def committedDeltas: Seq[String] =
    readManifest().map(_.deltas).getOrElse(Nil)

  /** Offline bucket-count evolution: rewrite the whole index under a new
    * modulus and publish it as the next manifest version. Deliberately
    * O(index) — it is the maintenance job run when buckets outgrow the
    * ~1 GB target (each bucket rewrite is one task, so the job
    * parallelizes across the cluster); steady-state commits stay
    * O(batch). Pending uncommitted ops are refused: rebucket between
    * batches, not inside one.
    */
  def rebucket(newBuckets: Int, epoch: WriterEpoch = null): Unit = synchronized {
    require(newBuckets > 0, s"bucket count must be positive, got $newBuckets")
    require(ops.isEmpty, "rebucket with pending uncommitted ops; commit first")
    val prev = readManifest().getOrElse(
      throw new IllegalStateException(s"index at $path has no committed version"))
    if (prev.numBuckets == newBuckets) return
    val version = prev.version + 1
    val commitDir = s"data/c$version-${ParquetIndexSink.attemptId()}"
    val written: Map[Int, String] = prev.schema match {
      case None => Map.empty
      case Some(_) =>
        // searchable() folds the delta log in, so the rewrite doubles as a
        // compaction — the new manifest carries an empty delta log
        writeBuckets(searchable(), newBuckets, commitDir)
        listBucketDirs(commitDir)
    }
    writeManifest(Manifest(version, newBuckets, prev.schema, written, Nil,
      kind = "rebucket"), epoch)
  }

  /** Delete data dirs no retained manifest references, delta dirs no
    * retained delta log lists (compacted or lost-race orphans), and
    * manifests older than the newest `keepVersions`.
    *
    * READER-LEASE BOUND (the [[DeltaLog.installBase]] convention): a
    * reader that resolved [[searchable]] — or pinned a version with
    * [[searchableAt]] — stays complete as long as its manifest is among
    * the newest `keepVersions` at vacuum time. The default 1 keeps only
    * the latest (the historical behavior: time travel dies at vacuum);
    * size it to (longest expected scan or pinned-version age) /
    * (vacuum interval) when readers lag the writer. Each retained
    * version costs only the data dirs unique to it — buckets shared
    * across versions are stored once and kept alive by whichever
    * retained manifest references them.
    */
  /** MAINTENANCE CONTRACT (who may call this, from where):
    *  - the OWNING writer process — the session epoch is reused
    *    automatically; safe.
    *  - any process with `dryRun = true` — strictly read-only: no epoch
    *    is acquired (a dry run must never fence the live writer), no
    *    file is touched; the returned [[VacuumReport]] lists what a
    *    real vacuum with this `keepVersions` would delete.
    *  - a maintenance caller holding the owning writer's explicit
    *    [[WriterEpoch]] — pass it as `epoch` and the vacuum runs under
    *    that claim instead of acquiring one.
    *  - a DELIBERATE takeover: stop the writer first, then call from
    *    the tool JVM with no epoch — this acquires a fresh epoch,
    *    i.e. the tool claims the store exactly like a writer restart.
    * Calling with no epoch from a second JVM while the writer is live
    * is the one forbidden shape: the fresh epoch FENCES the live
    * writer (its next mutation dies with [[FencedWriterException]]).
    */
  def vacuum(keepVersions: Int = 1, dryRun: Boolean = false,
      epoch: WriterEpoch = null): VacuumReport = synchronized {
    require(keepVersions >= 1,
      s"keepVersions must be >= 1, got $keepVersions")
    val retained = history().takeRight(keepVersions)
    if (retained.isEmpty) return VacuumReport(retained, Nil, Nil, Nil, dryRun)
    // a retained-but-unreadable manifest must ABORT, not shrink the
    // live set — reading past it would delete buckets a kept manifest
    // still references
    val ms = retained.map(v => readManifestAt(v).getOrElse(
      throw new IllegalStateException(
        s"vacuum at $path: retained manifest v$v listed but unreadable " +
          "— concurrent maintenance or an inconsistent listing; retry")))
    val f = fs
    // SNAPSHOT the delete candidates BEFORE the fence check, and delete
    // ONLY entries observed in that snapshot: a rival writer that
    // registers its epoch after the check can then never lose files —
    // anything it creates is absent from the snapshot by construction
    // (the installBase GC convention: delete from your own pre-list,
    // never by re-listing exclusion)
    val dataDir = new HPath(path, "data")
    val dataSnapshot: Seq[(HPath, Seq[HPath])] =
      if (!f.exists(dataDir)) Nil
      else f.listStatus(dataDir).toSeq.map(c =>
        c.getPath -> f.listStatus(c.getPath).toSeq.map(_.getPath))
    val deltaDir = new HPath(path, "delta")
    val deltaSnapshot: Seq[HPath] =
      if (!f.exists(deltaDir)) Nil
      else f.listStatus(deltaDir).toSeq.map(_.getPath)
    val manifestSnapshot: Seq[HPath] =
      f.listStatus(manifestDir).toSeq.map(_.getPath)
    // before any delete: a vacuum holding a stale "latest" manifest
    // (zombie maintenance job) must never GC a newer writer's files.
    // A dry run skips the check entirely — it neither deletes nor may
    // it ACQUIRE an epoch (that would fence the live writer)
    if (!dryRun) fenceCheck(epoch)
    val live = ms.flatMap(_.buckets.values)
      .map(rel => new HPath(s"$path/$rel").toUri.getPath).toSet
    val deadData = Seq.newBuilder[String]
    val deadCommitDirs = Seq.newBuilder[String]
    dataSnapshot.foreach { case (commitDir, buckets) =>
      val survivors = buckets.filter { b =>
        val keep = live.contains(b.toUri.getPath)
        if (!keep) {
          deadData += b.toString
          if (!dryRun) f.delete(b, true): Unit
        }
        keep
      }
      // non-recursive: refuses a dir a rival repopulated since our
      // re-list, instead of recursively destroying the new content.
      // Recorded in BOTH modes so the dry-run report predicts the real
      // vacuum's full delete set (see VacuumReport.commitDirs).
      if (survivors.isEmpty) {
        if (dryRun) deadCommitDirs += commitDir.toString
        else if (f.listStatus(commitDir).isEmpty) {
          deadCommitDirs += commitDir.toString
          f.delete(commitDir, false): Unit
        }
      }
    }
    val liveDeltas = ms.flatMap(_.deltas)
      .map(rel => new HPath(s"$path/$rel").toUri.getPath).toSet
    val deadDeltas = Seq.newBuilder[String]
    deltaSnapshot.foreach { c =>
      if (!liveDeltas.contains(c.toUri.getPath)) {
        deadDeltas += c.toString
        if (!dryRun) f.delete(c, true): Unit
      }
    }
    val keepNames = retained.map(v => s"v$v.json").toSet
    val deadManifests = Seq.newBuilder[String]
    manifestSnapshot.foreach { s =>
      if (!keepNames.contains(s.getName)) {
        deadManifests += s.toString
        if (!dryRun) f.delete(s, false): Unit
      }
    }
    VacuumReport(retained, deadData.result(), deadDeltas.result(),
      deadManifests.result(), dryRun, deadCommitDirs.result())
  }
}

object ParquetIndexSink {
  /** Partition-dir column for the key-hash bucket. Reserved: must not be a
    * document column (no leading `_` — underscore-prefixed dirs are hidden
    * from Hadoop file listing).
    */
  val BucketCol = "gbucket"

  /** Delta-file commit version — orders deltas per key at read time.
    * Reserved document column name.
    */
  val DeltaVerCol = "_dv"

  /** Working column ordering rows WITHIN one op (last row per key wins).
    * Never written to files, but a document column of the same name would
    * be silently overwritten and dropped by the fold — reserved.
    */
  val SeqCol = "_seq"

  /** Working column ordering ops ACROSS one commit (last op per key wins).
    * Reserved for the same reason as [[SeqCol]].
    */
  val OpSeqCol = "_oseq"

  /** Random suffix for a commit attempt's data dir — two committers racing
    * to the same version write disjoint dirs; the manifest CAS picks the
    * winner and the loser's dir is unreferenced garbage for `vacuum`.
    */
  private[sink] def attemptId(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Union-by-name of two document schemas (width-only evolution): fields
    * keep `a`'s order, `b`'s new fields append; everything is nullable
    * (old documents lack new columns). A type change is a hard error —
    * silent coercion would corrupt the index.
    */
  private[sink] def mergeSchemas(a: StructType, b: StructType): StructType = {
    val byName = a.fields.map(f => f.name -> f).toMap
    b.fields.foreach { f =>
      byName.get(f.name).foreach { prev =>
        require(prev.dataType == f.dataType,
          s"schema evolution cannot change type of '${f.name}': " +
            s"${prev.dataType.simpleString} -> ${f.dataType.simpleString}")
      }
    }
    StructType(
      a.fields.map(_.copy(nullable = true)) ++
        b.fields.filterNot(f => byName.contains(f.name)).map(_.copy(nullable = true)))
  }

  private val ManifestName = """v(\d+)\.json""".r

  /** One committed index version: base bucket → relative data dir, plus
    * the ordered merge-on-read delta log (relative dirs; empty after a
    * compaction). A round-2 manifest (no "deltas" key) reads as an empty
    * log — the layout is forward-compatible.
    */
  /** `kind` records what the commit DID — "empty" (delete-only v0),
    * "load" (bulk base write), "delta" (steady-state append), "compact",
    * "rebucket" — so history readers ([[ParquetIndexSink.changesSince]])
    * know which versions carry logical changes without re-deriving it.
    * Manifests written before the field existed read back as "legacy".
    */
  private[sink] final case class Manifest(
      version: Long, numBuckets: Int,
      schema: Option[StructType], buckets: Map[Int, String],
      deltas: Seq[String] = Nil, kind: String = "delta") {
    def toJson: String = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      compact(render(
        ("version" -> version) ~ ("numBuckets" -> numBuckets) ~
          ("schema" -> schema.map(_.json)) ~
          ("buckets" -> buckets.map { case (k, v) => k.toString -> v }) ~
          ("deltas" -> deltas) ~ ("kind" -> kind)))
    }
  }

  private[sink] object Manifest {
    def fromJson(s: String): Manifest = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods._
      implicit val fmts: Formats = DefaultFormats
      val j = parse(s)
      Manifest(
        (j \ "version").extract[Long],
        (j \ "numBuckets").extract[Int],
        (j \ "schema").extractOpt[String]
          .map(DataType.fromJson(_).asInstanceOf[StructType]),
        (j \ "buckets").extract[Map[String, String]]
          .map { case (k, v) => k.toInt -> v },
        (j \ "deltas").extractOrElse[Seq[String]](Nil),
        (j \ "kind").extractOrElse[String]("legacy"))
    }
  }
}
