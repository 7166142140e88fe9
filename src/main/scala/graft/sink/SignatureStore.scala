package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Persisted MinHash signature index for INCREMENTAL near-dup detection:
  * the dedup-side sibling of [[InvertedIndex]]/[[VectorIndex]]. Sign the
  * corpus once, then screen each arriving batch with an O(batch)-sized
  * probe instead of re-running corpus-wide LSH — the continuous-ingest
  * shape of training-data dedup (is this crawl shard new, or a near-copy
  * of something we already hold?).
  *
  * Why this is lossless: a doc's banded rows
  * ([[Dedup.bandedSignatures]]: seeded-xxhash64 minhash → per-band bucket
  * hash) depend only on its own text, so the rows persisted at corpus
  * time are bit-identical to the rows a full-corpus run would compute
  * today. A pair collides on some (band, bucket) in a full run iff it
  * collides between a probe and the store — incremental probing finds
  * EXACTLY the full-corpus candidate set, no recall loss (gated by
  * `x_dedup_incremental`: union of probes ≡ one-shot LSH over the union).
  *
  * Layout under `dir`:
  *   - `meta/` — one row: the signing contract (id/text column names,
  *     shingle n, hash count, band count, residue-partition count). Every
  *     probe and append re-signs with THESE parameters — mixing widths
  *     would silently kill recall, so the contract is persisted, not an
  *     argument.
  *   - `buckets/pb=<r>/` — banded rows `(_id, sig, band, bucket)`
  *     Hive-partitioned by `pb = bucket mod nPb` and sorted by
  *     (band, bucket) within files.
  *   - `commits/<seq>/buckets` + `commits/<seq>/docs` — appended batches
  *     ([[DeltaLog]] protocol: atomic rename, O(batch) bytes each; `pb`
  *     is a data column — no directory fan-out for a tiny batch). The
  *     `docs` leg is the ownership table: reads resolve doc-granular
  *     last-writer-wins over (base, commits), so [[append]] is a keyed
  *     UPSERT and [[delete]] is an empty-signature tombstone — the same
  *     mutation contract as the document sink, [[IncrementalPostings]],
  *     and [[VectorIndex]].
  *
  * Scale design: a probe never shuffles the store. The batch's banded
  * rows (O(batch × bands)) BROADCAST against the store scan, and the
  * store leg is pruned twice — the `pb IN (…)` residues the batch
  * actually hashes into prune base directories at file-listing time
  * (partition column), and the (band, bucket)-sorted files let row-group
  * stats skip non-colliding ranges. Candidate verification is
  * [[Dedup.verifyJaccard]] on O(candidates) pairs. [[compact]] folds the
  * commit log and is the only index-sized write.
  */
object SignatureStore extends DepthGatedStore {

  protected def baseName: String = "buckets"

  private val metaSchema = StructType(Seq(
    StructField("id_col", StringType, nullable = false),
    StructField("text_col", StringType, nullable = false),
    StructField("shingle_n", IntegerType, nullable = false),
    StructField("num_hashes", IntegerType, nullable = false),
    StructField("bands", IntegerType, nullable = false),
    StructField("n_pb", IntegerType, nullable = false)))

  private final case class Meta(idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int, nPb: Int)

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val r = spark.read.schema(metaSchema).parquet(s"$dir/meta").head()
    Meta(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5))
  }

  /** Sign `df` under the store's contract: banded rows + the residue
    * partition key. Null ids are rejected loudly (a null id can never be
    * reported as a duplicate side — the sink-commit raise_error precedent).
    */
  private def signed(df: DataFrame, m: Meta): DataFrame = {
    val idType = df.schema(m.idCol).dataType
    val guarded = df.withColumn(m.idCol,
      when(col(m.idCol).isNotNull, col(m.idCol))
        .otherwise(raise_error(
          lit(s"SignatureStore: null '${m.idCol}' cannot be signed"))
          .cast(idType)))
    Dedup.bandedSignatures(guarded, m.idCol, m.textCol,
        m.shingleN, m.numHashes, m.bands)
      .withColumn("pb", pmod(col("bucket"), lit(m.nPb.toLong)).cast("int"))
  }

  /** Build the store over `df` (full corpus sign + layout write),
    * resetting any previous commit log.
    */
  def write(df: DataFrame, idCol: String, textCol: String, dir: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
      nPb: Int = 32): Unit = {
    val spark = df.sparkSession
    val m = Meta(idCol, textCol, shingleN, numHashes, bands, nPb)
    // r17: meta and base are independent writes — concurrent jobs
    // (guide §2.6). r18: advisor's meta-before-install ordering measured
    // and rejected — rationale at GeoIndex.write.
    DeltaLog.inParallel(
      () => writeRows(spark, s"$dir/meta", metaSchema,
        Seq(Row(idCol, textCol, shingleN, numHashes, bands, nPb))),
      () => DeltaLog.installBase(spark, dir, "buckets", fenceDomain = dir) { tmp =>
        signed(df, m)
          .repartition(col("pb")).sortWithinPartitions("band", "bucket")
          .write.mode("overwrite").partitionBy("pb").parquet(tmp)
      }: Unit)
    resetLog(spark, dir)
  }

  /** The store's LIVE banded rows, optionally pruned to a residue set:
    * base (partition-pruned, seq 0) plus each O(batch) commit leg,
    * resolved doc-granular last-writer-wins against the ownership table
    * (one row per touched doc, broadcast until compaction resets it) —
    * so upserted docs keep only their newest signing and tombstoned docs
    * vanish from every probe, self-pair audit, and compaction fold.
    */
  private[sink] def bucketRows(spark: SparkSession, dir: String,
      seqs: Seq[Int], pbs: Option[Seq[Int]]): DataFrame = {
    def prune(df: DataFrame) =
      pbs.fold(df)(r => df.filter(col("pb").isin(r: _*)))
    liveView(prune(
        spark.read.parquet(DeltaLog.currentBase(spark, dir, "buckets"))),
        seqs, ownerTable(spark, dir, seqs, "_id"), "_id")(s =>
      prune(leg(spark, dir, s, "buckets")))
  }

  /** Candidate near-dup pairs for a NEW batch: every (batch doc, store
    * doc) and (batch doc, batch doc) pair sharing a (band, bucket), with
    * the signature-agreement similarity estimate. `(id_a, id_b,
    * est_jaccard)`, `id_a < id_b`. Probe BEFORE [[append]] — a batch
    * already in the store would pair with itself.
    *
    * Cost: the batch signs locally (O(batch)), its residues prune the
    * base scan at file-listing time, and the batch side broadcasts into
    * the join — the store is never shuffled. The residue collect is
    * bounded by `nPb` rows (driver state ≤ the partition count by
    * construction).
    */
  def probe(batch: DataFrame, dir: String): DataFrame =
    probe(batch, dir, maxBucketOccupancy = Int.MaxValue)

  /** [[probe]] with the hot-bucket cap
    * ([[graft.operators.Dedup.minhashLshCandidates]]'s 100 TB guard): a
    * (band, bucket) holding more than `maxBucketOccupancy` docs across
    * store + batch is skipped — a viral boilerplate bucket must not turn
    * an O(batch) probe into an O(bucket²) pair explosion. Occupancy is
    * counted over store ∪ batch (a bucket lives entirely in one residue,
    * so pruning never under-counts), which keeps capped probing exactly
    * ≡ capped one-shot LSH over the union.
    */
  def probe(batch: DataFrame, dir: String,
      maxBucketOccupancy: Int): DataFrame = {
    val spark = batch.sparkSession
    val m = readMeta(spark, dir)
    // r17: probeCore references the signed batch up to five times (the
    // residue collect, the occupancy union, the anti-join, the
    // store-cross join's broadcast side, the within-batch self-join ×2)
    // and signing (shingle → minhash → band rows) is the probe's
    // dominant per-reference cost. localCheckpoint (eager): sign ONCE;
    // batch-sized blocks, ContextCleaner-managed (the fused
    // probeAndAppend already signs once via its persist).
    probeCore(spark, dir, m, signed(batch, m).localCheckpoint(),
      maxBucketOccupancy)
  }

  /** [[probe]] body over an already-signed batch frame — shared with
    * [[probeAndAppend]] so the fused path signs exactly once.
    */
  private def probeCore(spark: SparkSession, dir: String, m: Meta,
      q0: DataFrame, maxBucketOccupancy: Int): DataFrame = {
    require(maxBucketOccupancy >= 2,
      s"maxBucketOccupancy must be >= 2, got $maxBucketOccupancy")
    val pbs = q0.select("pb").distinct().collect().map(_.getInt(0)).toSeq
    val store0 = bucketRows(spark, dir, commitSeqs(spark, dir), Some(pbs))
    val (store, q) =
      if (maxBucketOccupancy == Int.MaxValue) (store0, q0)
      else {
        val hot = store0.select("band", "bucket")
          .unionByName(q0.select("band", "bucket"))
          .groupBy("band", "bucket").agg(count(lit(1)).as("_occ"))
          .filter(col("_occ") > maxBucketOccupancy)
          .select("band", "bucket")
        (store0.join(broadcast(hot), Seq("band", "bucket"), "left_anti"),
          q0.join(broadcast(hot), Seq("band", "bucket"), "left_anti"))
      }
    val cross = store.as("s").join(broadcast(q.as("q")),
        col("s.band") === col("q.band") && col("s.bucket") === col("q.bucket") &&
          col("s._id") =!= col("q._id"))
      .select(
        least(col("s._id"), col("q._id")).as("id_a"),
        greatest(col("s._id"), col("q._id")).as("id_b"),
        when(col("s._id") < col("q._id"), col("s.sig")).otherwise(col("q.sig")).as("sig_a"),
        when(col("s._id") < col("q._id"), col("q.sig")).otherwise(col("s.sig")).as("sig_b"))
    val within = q.as("a").join(q.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    // fused sig_match_count, not size(filter(zip_with(...))) — the HOF
    // runs interpreted per candidate pair (~2.5x slower measured at
    // 500k pairs x 32 hashes); equivalence spec-pinned in
    // VectorExpressionsSpec, and the candidate leg is the one whose row
    // count grows with the corpus
    cross.unionByName(within).distinct()
      .withColumn("est_jaccard",
        graft.functions.VectorExpressions.sigMatchCount(
          col("sig_a"), col("sig_b")).cast("double")
          / lit(m.numHashes.toDouble))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Candidate near-dup pairs WITHIN the store — corpus-wide LSH dedup
    * from the PERSISTED signatures, no re-signing: the audit path ("what
    * duplicates does the corpus we hold contain?") that makes the index,
    * not the raw text, the system of record for dedup. Identical pair
    * set to `Dedup.minhashLshCandidates` over the corpus (signatures are
    * deterministic per doc), at the cost of one self-join on
    * (band, bucket) over rows already sorted by exactly that key.
    */
  def selfPairs(spark: SparkSession, dir: String): DataFrame =
    selfPairs(spark, dir, maxBucketOccupancy = Int.MaxValue)

  /** [[selfPairs]] with the hot-bucket cap (see [[probe]]). */
  def selfPairs(spark: SparkSession, dir: String,
      maxBucketOccupancy: Int): DataFrame = {
    require(maxBucketOccupancy >= 2,
      s"maxBucketOccupancy must be >= 2, got $maxBucketOccupancy")
    val m = readMeta(spark, dir)
    val rows0 = bucketRows(spark, dir, commitSeqs(spark, dir), None)
    val rows =
      if (maxBucketOccupancy == Int.MaxValue) rows0
      else {
        val hot = rows0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_occ"))
          .filter(col("_occ") > maxBucketOccupancy)
          .select("band", "bucket")
        rows0.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      }
    rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("est_jaccard", // fused count — see probeCore's note
        graft.functions.VectorExpressions.sigMatchCount(
          col("sig_a"), col("sig_b")).cast("double")
          / lit(m.numHashes.toDouble))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Admit (or RE-admit) a screened batch: ONE O(batch)-bytes atomic
    * commit of its banded rows plus the batch's doc-ownership rows.
    * Keyed UPSERT semantics — a re-appended id supersedes its earlier
    * signing (document-granular last-writer-wins at read), matching the
    * document sink, the postings index, and the vector index. Returns
    * the commit sequence.
    */
  def append(batch: DataFrame, dir: String): Int = {
    val spark = batch.sparkSession
    val m = readMeta(spark, dir)
    // one file per O(batch) commit leg (see GeoIndex.upsert): commit-leg
    // file count is a serving cost — every probe re-lists every commit.
    // repartition(1), not coalesce: coalesce would collapse the signing
    // computation itself into one task
    val rows = signed(batch, m).repartition(1)
      .sortWithinPartitions("band", "bucket")
    val docs = batch.select(col(m.idCol).as("_id")).distinct().coalesce(1)
    commit(spark, dir, "buckets") { tmp =>
      DeltaLog.inParallel( // independent O(batch) legs → concurrent jobs (r17)
        () => rows.write.mode("overwrite").parquet(s"$tmp/buckets"),
        () => docs.write.mode("overwrite").parquet(s"$tmp/docs"))
    }
  }

  /** Sign ONCE, screen, commit — the steady-state ingest step fused:
    * called separately, [[probe]] and [[append]] each re-sign the batch
    * (shingle → minhash → band rows, the probe path's dominant cost);
    * here one signed frame is cached batch-sized, probed against the
    * PRE-COMMIT live store (the probe's store legs are enumerated before
    * the commit lands, so the batch never collides with itself through
    * the store side), and committed verbatim as the append. Returns the
    * candidate pairs; the commit is durable before the call returns.
    * Equivalence is spec-pinned: identical pairs to `probe(batch)` and
    * identical store state to `append(batch)`.
    */
  def probeAndAppend(batch: DataFrame, dir: String,
      maxBucketOccupancy: Int = Int.MaxValue): DataFrame = {
    val spark = batch.sparkSession
    val m = readMeta(spark, dir)
    val q0 = signed(batch, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // store legs resolve their commit list NOW — before the append
    val pairs = probeCore(spark, dir, m, q0, maxBucketOccupancy)
    val docs = batch.select(col(m.idCol).as("_id")).distinct().coalesce(1)
    commit(spark, dir, "buckets") { tmp =>
      // one file per O(batch) commit leg: every later probe re-lists
      // every commit's files, so leg file count is a serving cost. The
      // coalesce reads the persisted blocks, not the signing lineage
      DeltaLog.inParallel( // independent legs → concurrent jobs (r17)
        () => q0.coalesce(1).sortWithinPartitions("band", "bucket")
          .write.mode("overwrite").parquet(s"$tmp/buckets"),
        () => docs.write.mode("overwrite").parquet(s"$tmp/docs"))
    }
    pairs
  }

  /** Tombstone docs out of the store: ONE O(ids)-bytes commit claiming
    * ownership with an EMPTY signature leg, so deleted docs stop
    * producing candidate pairs immediately — a doc removed from the
    * corpus must not keep vetoing lookalike admissions through its stale
    * signatures. A later [[append]] of the same id resurrects it (its
    * newer commit wins); [[compact]] folds tombstones away physically.
    * Null ids are dropped ([[IncrementalStore.commitTombstones]]).
    */
  def delete(ids: DataFrame, idCol: String, dir: String): Int =
    commitTombstones(ids.sparkSession, dir, ids.select(col(idCol).as("_id")))

  /** The compaction fold: the live rows, residue-partitioned. */
  protected def fold(spark: SparkSession, dir: String,
      seqs: Seq[Int]): String => Unit = {
    val folded = bucketRows(spark, dir, seqs, None)
    tmp => folded
      .repartition(col("pb")).sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").partitionBy("pb").parquet(tmp)
  }

  /** One-row health report: `(n_docs, n_rows, n_pending_commits,
    * compact_recommended)` — log depth is the compaction signal (each
    * pending commit adds a scan leg to every probe); the recommendation
    * trips when it exceeds `maxDeltas` ([[IncrementalPostings.stats]]
    * parity).
    */
  def stats(spark: SparkSession, dir: String,
      maxDeltas: Int = 8): DataFrame = {
    val seqs = commitSeqs(spark, dir)
    val pending = seqs.length
    bucketRows(spark, dir, seqs, None)
      .agg(count_distinct(col("_id")).as("n_docs"),
        count(lit(1)).as("n_rows"))
      .select(col("n_docs"), col("n_rows"),
        lit(pending).cast("long").as("n_pending_commits"),
        lit(pending > maxDeltas).as("compact_recommended"))
  }

  def stats(spark: SparkSession, dir: String): DataFrame =
    stats(spark, dir, maxDeltas = 8)
}
