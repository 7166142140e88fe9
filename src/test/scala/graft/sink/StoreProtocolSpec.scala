package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.SparkSpec

/** The shared store protocol ([[IncrementalStore]]), driven through
  * [[Stores]] for all five kinds with tiny stores: commit-log depth,
  * each kind's compaction rule on both sides of its threshold, fold
  * preserving the live view, idle maintenance burning no generation,
  * stale-epoch compaction fenced without side effects, the live view's
  * owner-join plan, and the null-id tombstone rule.
  */
class StoreProtocolSpec extends SparkSpec {
  import spark.implicits._

  /** One kind's tiny store: `build` lays down ids 1..20, `upsert` commits
    * one id, `delete` tombstones ids (None: the append-only stats store,
    * whose live view has no owner table), `live` is the resolved view,
    * `key` the `docs` leg column.
    */
  private case class Kind(name: String, logRoot: String, baseName: String,
      build: String => Unit, upsert: (String, Long) => Unit,
      delete: Option[(String, Seq[Option[Long]]) => Int],
      live: String => DataFrame, key: String, foldsAtDepth: Boolean)

  private def text(i: Long) = s"alpha beta gamma token$i word${i % 3}"

  private val kinds = Seq(
    Kind("geo", "commits", "cells",
      dir => GeoIndex.write((1L to 20L).map(i => (i, 40 + i * 0.5, i - 74.0))
        .toDF("pid", "lat", "lon"), "pid", "lat", "lon", dir),
      (dir, i) => GeoIndex.upsert(Seq((i, 10.0, 20.0))
        .toDF("pid", "lat", "lon"), "pid", "lat", "lon", dir): Unit,
      Some((dir, ids) => GeoIndex.delete(ids.toDF("pid"), "pid", dir)),
      dir => GeoIndex.live(spark, dir, None), "pid",
      foldsAtDepth = false),
    Kind("vector", "commits", "cells",
      dir => VectorIndex.write((1L to 20L).map(i =>
          (i, if (i % 2 == 0) Seq(1.0f, i * 0.01f) else Seq(i * 0.01f, 1.0f)))
        .toDF("vid", "emb"), "vid", "emb", dir, k = 2, iters = 2): Unit,
      (dir, i) => VectorIndex.upsert(Seq((i, Seq(0.5f, 0.5f)))
        .toDF("vid", "emb"), "vid", "emb", dir): Unit,
      Some((dir, ids) => VectorIndex.delete(ids.toDF("vid"), "vid", dir)),
      dir => VectorIndex.cells(spark, dir), "vid",
      foldsAtDepth = false),
    Kind("signature", "commits", "buckets",
      dir => SignatureStore.write((1L to 20L).map(i => (i, text(i)))
        .toDF("doc_id", "text"), "doc_id", "text", dir, nPb = 4),
      (dir, i) => SignatureStore.append(Seq((i, s"fresh text $i")).toDF(
        "doc_id", "text"), dir): Unit,
      Some((dir, ids) =>
        SignatureStore.delete(ids.toDF("doc_id"), "doc_id", dir)),
      dir => SignatureStore.bucketRows(spark, dir,
        SignatureStore.commitSeqs(spark, dir), None), "_id",
      foldsAtDepth = false),
    Kind("postings", "deltas", "base",
      dir => IncrementalPostings.init((1L to 20L).map(i => (i, text(i)))
        .toDF("doc_id", "text"), "doc_id", "text", dir),
      (dir, i) => IncrementalPostings.commitUpserts(Seq((i, s"fresh text $i"))
        .toDF("doc_id", "text"), "doc_id", "text", dir): Unit,
      Some((dir, ids) =>
        IncrementalPostings.commitDeletes(ids.toDF("doc_id"), "doc_id", dir)),
      dir => IncrementalPostings.currentPostings(spark, dir), "doc_id",
      foldsAtDepth = true),
    Kind("stats", "commits", "base",
      dir => StatsStore.init((1L to 20L).map(i => (i, text(i)))
        .toDF("id", "label"), Seq("id", "label"), dir),
      (dir, i) => StatsStore.append(Seq((i, text(i))).toDF("id", "label"),
        dir): Unit,
      None, dir => StatsStore.profile(spark, dir), "id",
      foldsAtDepth = false))

  /** Every node of an executed plan, through AQE stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def ownerJoins(df: DataFrame): Int = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[BroadcastHashJoinExec])
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  kinds.foreach { k =>
    test(s"${k.name}: log depth, compaction rule, fold, idle no-op, fencing") {
      val dir = java.nio.file.Files.createTempDirectory(s"proto-${k.name}")
        .toString
      val f = DeltaLog.fs(spark, dir)
      def gens(): Seq[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
          .filter(_.startsWith(s"${k.baseName}-v")).sorted.toSeq
      def base() = DeltaLog.currentBase(spark, dir, k.baseName)
      def pending() = Stores.pendingCommits(spark, k.name, dir)
      k.build(dir)
      assert(pending() == 0)
      if (k.delete.nonEmpty) assert(ownerJoins(k.live(dir)) == 0,
        "an empty log must read the base with no owner join")

      // two commits: an upsert, then (keyed stores) a tombstone whose ids
      // include a null — the null is dropped, the non-null id is deleted
      k.upsert(dir, 100L)
      k.delete match {
        case Some(del) =>
          val seq = del(dir, Seq(Some(3L), None))
          val docs = spark.read.parquet(s"$dir/${k.logRoot}/$seq/docs")
          assert(docs.count() == 1 && docs.filter(docs(docs.columns.head)
            .isNull).isEmpty, "a null id must not reach the docs leg")
          val ids = k.live(dir).select(k.key).as[Long].collect().toSet
          assert(!ids.contains(3L) && ids.contains(100L) && ids.contains(4L))
        case None => k.upsert(dir, 101L)
      }
      assert(pending() == 2)
      if (k.delete.nonEmpty) assert(ownerJoins(k.live(dir)) == 1,
        "pending commits resolve through ONE broadcast owner join")

      // each kind's rule on both sides of its threshold: postings folds at
      // depth == maxDeltas, the depth-gated kinds only past it
      val at = if (k.foldsAtDepth) 2 else 1
      val before = rows(k.live(dir))
      val gensBefore = gens()
      assert(!Stores.maybeCompact(spark, k.name, dir, maxDeltas = at + 1))
      assert(pending() == 2 && gens() == gensBefore)
      assert(Stores.maybeCompact(spark, k.name, dir, maxDeltas = at))
      assert(pending() == 0)
      assert(rows(k.live(dir)) == before, "the fold changed the live view")

      // a second maybeCompact on the empty log burns no generation
      val folded = gens()
      assert(!Stores.maybeCompact(spark, k.name, dir))
      assert(gens() == folded)

      // a compactor whose epoch predates a takeover-style re-claim is
      // fenced before it writes anything, even with a commit pending
      val stale = DeltaLog.resolveEpoch(spark, dir, null)
      DeltaLog.clearSessionEpoch(dir)
      DeltaLog.resolveEpoch(spark, dir, null) // the new owner's claim
      k.upsert(dir, 102L)
      val (seqs, sealedBase, allGens) =
        (Stores(k.name).commitSeqs(spark, dir), base(), gens())
      intercept[FencedWriterException](
        Stores(k.name).compact(spark, dir, epoch = stale))
      assert(Stores(k.name).commitSeqs(spark, dir) == seqs)
      assert(base() == sealedBase && gens() == allGens)
    }
  }
}
