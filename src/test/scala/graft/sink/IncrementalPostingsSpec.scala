package graft.sink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalPostingsSpec extends SparkSpec {
  import spark.implicits._

  private def currentDocs(
      base: Seq[(Long, String)],
      upserts: Seq[Seq[(Long, String)]],
      deletes: Seq[Long]) = {
    val m = scala.collection.mutable.LinkedHashMap(base: _*)
    upserts.flatten.foreach { case (id, t) => m(id) = t }
    deletes.foreach(m.remove)
    m.toSeq
  }

  test("delta commits resolve to exactly the current corpus's postings") {
    val dir = java.nio.file.Files.createTempDirectory("incpost").toString
    val base = Seq((1L, "merge scan"), (2L, "window join"), (3L, "scan scan"))
    val up1 = Seq((2L, "window window merge"), (4L, "filter sort"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    val s1 = IncrementalPostings.commitUpserts(
      up1.toDF("doc_id", "text"), "doc_id", "text", dir)
    val s2 = IncrementalPostings.commitDeletes(
      Seq(3L).toDF("doc_id"), "doc_id", dir)
    assert(s1 == 1 && s2 == 2)

    val expect = InvertedIndex.postings(
      currentDocs(base, Seq(up1), Seq(3L)).toDF("doc_id", "text"),
      "doc_id", "text")
      .as[(String, Long, Int)].collect().toSet
    val got = IncrementalPostings.currentPostings(spark, dir)
      .as[(String, Long, Int)].collect().toSet
    assert(got == expect)
    // norms resolve the same way (doc 3 gone, doc 2 re-counted, doc 4 new)
    val norms = IncrementalPostings.currentNorms(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(norms == Map(1L -> 2, 2L -> 3, 4L -> 2))

    // a doc upserted TWICE resolves to the latest delta, not the first
    IncrementalPostings.commitUpserts(
      Seq((2L, "solo")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val again = IncrementalPostings.currentNorms(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(again(2L) == 1)
  }

  test("incremental BM25 equals the scan-form over the current corpus") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-bm25").toString
    val base = (10L to 40L).map(i =>
      (i, s"merge scan window doc$i ${"filler " * (i % 5).toInt}merge"))
    val up = Seq((10L, "window window"), (50L, "merge merge scan"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    IncrementalPostings.commitUpserts(
      up.toDF("doc_id", "text"), "doc_id", "text", dir)
    IncrementalPostings.commitDeletes(Seq(11L).toDF("doc_id"), "doc_id", dir)

    val cur = currentDocs(base, Seq(up), Seq(11L)).toDF("doc_id", "text")
    val expect = DocQueries.matchTextBM25(cur, "doc_id", "text",
      "merge window scan", 20).as[(Long, Double)].collect().toSeq
    val got = IncrementalPostings.bm25Search(spark, dir, "merge window scan", 20)
      .as[(Long, Double)].collect().toSeq
    assert(got == expect)

    // compaction folds deltas into the base and preserves the answer
    IncrementalPostings.compact(spark, dir)
    val afterCompact = IncrementalPostings
      .bm25Search(spark, dir, "merge window scan", 20)
      .as[(Long, Double)].collect().toSeq
    assert(afterCompact == expect)
    // and the deltas are gone: the view is the base alone
    assert(IncrementalPostings.currentPostings(spark, dir)
      .columns.toSeq == Seq("term", "doc_id", "tf"))
  }

  test("incremental sparse_vector equals the corpus-scan form") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-sv").toString
    val base = (10L to 40L).map(i =>
      (i, s"merge scan window doc$i ${"filler " * (i % 5).toInt}merge"))
    val up = Seq((10L, "window window"), (50L, "merge merge scan"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    IncrementalPostings.commitUpserts(
      up.toDF("doc_id", "text"), "doc_id", "text", dir)
    IncrementalPostings.commitDeletes(Seq(11L).toDF("doc_id"), "doc_id", dir)

    val weights = Seq(("merge", 2.0), ("window", 1.0), ("absent", 0.5))
    val cur = currentDocs(base, Seq(up), Seq(11L)).toDF("doc_id", "text")
    val expect = DocQueries.sparseVectorQuery(cur, "doc_id", "text",
      weights, 20).as[(Long, Double)].collect().toSeq
    val got = IncrementalPostings.sparseVectorSearch(spark, dir, weights, 20)
      .as[(Long, Double)].collect().toSeq
    assert(got == expect, s"indexed $got != scan $expect")
  }

  test("a compact that crashed before sealing is invisible to reads") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-crash").toString
    val base = Seq((1L, "merge scan"), (2L, "window join"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    val before = IncrementalPostings.currentPostings(spark, dir)
      .as[(String, Long, Int)].collect().toSet
    // unsealed newer generation = the versioned protocol's crash window:
    // reads stay on the sealed generation, numbers are never reused
    DeltaLog.fs(spark, dir)
      .mkdirs(new org.apache.hadoop.fs.Path(s"$dir/base-v9/postings"))
    val after = IncrementalPostings.currentPostings(spark, dir)
      .as[(String, Long, Int)].collect().toSet
    assert(after == before)
  }

  test("streaming micro-batches drive the index via foreachBatch") {
    // the Lucene-style continuous-ingestion loop end-to-end: a stream of
    // (doc_id, text) upserts, one delta commit per micro-batch, BM25
    // over the live view equal to a batch index of the final corpus
    val dir = java.nio.file.Files.createTempDirectory("incpost-stream").toString
    IncrementalPostings.init(
      Seq((1L, "merge scan"), (2L, "window join")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          IncrementalPostings.commitUpserts(batch, "doc_id", "text", dir)
        ()
      }
      .start()
    try {
      input.addData((2L, "window merge merge"), (3L, "scan filter"))
      q.processAllAvailable()
      input.addData((4L, "merge merge merge"))
      q.processAllAvailable()
    } finally q.stop()

    val finalCorpus = Seq(
      (1L, "merge scan"), (2L, "window merge merge"),
      (3L, "scan filter"), (4L, "merge merge merge")).toDF("doc_id", "text")
    val expect = DocQueries.matchTextBM25(finalCorpus, "doc_id", "text",
      "merge", 10).as[(Long, Double)].collect().toSeq
    val got = IncrementalPostings.bm25Search(spark, dir, "merge", 10)
      .as[(Long, Double)].collect().toSeq
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("bm25SearchAt time-travels the delta log; compaction collapses history") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-tt").toString
    IncrementalPostings.init(
      Seq((1L, "merge scan"), (2L, "window join")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val v1 = IncrementalPostings.commitUpserts(
      Seq((3L, "merge merge")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val v2 = IncrementalPostings.commitDeletes(
      Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(IncrementalPostings.versions(spark, dir) == Seq(0, v1, v2))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // v0: only the base corpus; v1: doc 3 joined; v2 ≡ live: doc 1 gone
    assert(ids(IncrementalPostings.bm25SearchAt(spark, dir, 0, "merge", 10))
      == Set(1L))
    assert(ids(IncrementalPostings.bm25SearchAt(spark, dir, v1, "merge", 10))
      == Set(1L, 3L))
    assert(ids(IncrementalPostings.bm25SearchAt(spark, dir, v2, "merge", 10))
      == Set(3L))
    assert(
      IncrementalPostings.bm25SearchAt(spark, dir, v2, "merge", 10)
        .as[(Long, Double)].collect().toSeq ==
      IncrementalPostings.bm25Search(spark, dir, "merge", 10)
        .as[(Long, Double)].collect().toSeq)
    // an unknown version fails loudly; compaction folds history away
    intercept[IllegalArgumentException] {
      IncrementalPostings.bm25SearchAt(spark, dir, 99, "merge", 10)
    }
    IncrementalPostings.compact(spark, dir)
    assert(IncrementalPostings.versions(spark, dir) == Seq(0))
    assert(ids(IncrementalPostings.bm25SearchAt(spark, dir, 0, "merge", 10))
      == Set(3L))
  }

  test("stats tracks log depth, tombstones, and the compaction signal") {
    val dir = java.nio.file.Files.createTempDirectory("incstat").toString
    val base = (1L to 10L).map(i => (i, s"doc number $i words"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)

    def stat() = IncrementalPostings.stats(spark, dir)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head

    // fresh index: no log, live = base, nothing recommended
    assert(stat() == ((10L, 10L, 0L, 0L, 0L, false)))

    // upsert 2 docs (one new), delete 2: touched = 5, tombstones = 2
    IncrementalPostings.commitUpserts(
      Seq((1L, "rewritten"), (11L, "brand new")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    IncrementalPostings.commitDeletes(
      Seq(2L, 3L).toDF("doc_id"), "doc_id", dir)
    // a deleted doc RE-UPSERTED is alive again — not a tombstone
    IncrementalPostings.commitUpserts(
      Seq((2L, "back from the dead")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val s = stat()
    // live: 10 base − {2,3} deleted + {11} new + {2} revived = 10;
    // 4/10 touched ≥ the 0.2 default → compaction recommended
    assert(s == ((10L, 10L, 4L, 1L, 3L, true)), s)

    // a laxer touched threshold (4/10 < 0.5) clears the recommendation
    val rec = IncrementalPostings.stats(spark, dir, touchedFraction = 0.5)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head._6
    assert(!rec)
    // but log depth alone can trip it
    assert(IncrementalPostings.stats(spark, dir, maxDeltas = 3,
        touchedFraction = 0.5)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head._6)

    // compaction folds the log: stats reset, live count preserved
    IncrementalPostings.compact(spark, dir)
    assert(stat() == ((10L, 10L, 0L, 0L, 0L, false)))
  }

  test("maybeCompact runs exactly when the stats recommend it") {
    val dir = java.nio.file.Files.createTempDirectory("incmaybe").toString
    val base = (1L to 10L).map(i => (i, s"doc number $i"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    IncrementalPostings.commitUpserts(
      Seq((1L, "one touched doc")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // 1/10 touched < 0.5, 1 delta < 8 → no compaction, log intact
    assert(!IncrementalPostings.maybeCompact(spark, dir,
      touchedFraction = 0.5))
    assert(IncrementalPostings.stats(spark, dir)
      .select("n_deltas").head().getLong(0) == 1L)
    // depth threshold 1 trips it → compacted, log empty, view unchanged
    assert(IncrementalPostings.maybeCompact(spark, dir, maxDeltas = 1))
    assert(IncrementalPostings.stats(spark, dir)
      .select("n_deltas").head().getLong(0) == 0L)
    assert(IncrementalPostings.currentNorms(spark, dir).count() == 10L)
  }

  test("a commit writes O(batch) bytes, never touching the base") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-bytes").toString
    val base = (1L to 500L).map(i => (i, s"word$i common merge scan text"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", dir)
    def bytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists) 0L
      else if (f.isFile) f.length
      else f.listFiles.map(c => bytes(c.getPath)).sum
    }
    val basePath = DeltaLog.currentBase(spark, dir, "base")
    val baseBytes = bytes(basePath)
    val baseMtime = new java.io.File(s"$basePath/postings").lastModified
    IncrementalPostings.commitUpserts(
      Seq((1L, "tiny update")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val deltaBytes = bytes(s"$dir/deltas")
    assert(new java.io.File(s"$basePath/postings").lastModified == baseMtime,
      "commit must not rewrite the base")
    assert(deltaBytes < baseBytes / 5,
      s"delta $deltaBytes B should be a small fraction of base $baseBytes B")
  }

  test("a batch carrying the same id twice is rejected loudly") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-dup").toString
    IncrementalPostings.init(
      Seq((1L, "merge scan")).toDF("doc_id", "text"), "doc_id", "text", dir)
    val e = intercept[IllegalArgumentException] {
      IncrementalPostings.commitUpserts(
        Seq((2L, "v1"), (2L, "v2")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("more than once"))
    // the failed commit left nothing behind — the live view is the base
    val norms = IncrementalPostings.currentNorms(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(norms == Map(1L -> 2))
  }

  test("orderCol overload dedupes a multi-version CDC batch last-writer-wins") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-lww").toString
    IncrementalPostings.init(
      Seq((1L, "merge scan")).toDF("doc_id", "text"), "doc_id", "text", dir)
    // one micro-batch, three versions of doc 2 + one of doc 3 (CDC shape)
    IncrementalPostings.commitUpserts(
      Seq((2L, "first", 10L), (2L, "second version", 20L),
        (2L, "third final", 30L), (3L, "solo", 5L))
        .toDF("doc_id", "text", "seq"),
      "doc_id", "text", dir, "seq")
    val norms = IncrementalPostings.currentNorms(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(norms == Map(1L -> 2, 2L -> 2, 3L -> 1)) // doc 2 = "third final"
    val terms = IncrementalPostings.currentPostings(spark, dir)
      .filter(col("doc_id") === 2L).select("term")
      .as[String].collect().toSet
    assert(terms == Set("third", "final"))
    // a tie at the max order is ambiguous — rejected, not silently picked
    val e = intercept[IllegalArgumentException] {
      IncrementalPostings.commitUpserts(
        Seq((5L, "a", 1L), (5L, "b", 1L)).toDF("doc_id", "text", "seq"),
        "doc_id", "text", dir, "seq")
    }
    assert(e.getMessage.contains("more than once"))
    // and a null order value is rejected rather than dropping the doc
    val n = intercept[IllegalArgumentException] {
      IncrementalPostings.commitUpserts(
        Seq((6L, "a", Some(1L)), (6L, "b", None))
          .toDF("doc_id", "text", "seq"),
        "doc_id", "text", dir, "seq")
    }
    assert(n.getMessage.contains("null"))
  }

  test("positional index: live phrase search tracks upserts, deletes, and compaction") {
    val dir = java.nio.file.Files.createTempDirectory("incpost-phrase").toString
    val base = Seq((1L, "merge scan window"), (2L, "scan merge"), (3L, "merge scan"))
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text",
      dir, withPositions = true)
    def hits(): Set[Long] = IncrementalPostings.phraseSearch(spark, dir, "merge scan")
      .select("doc_id").as[Long].collect().toSet
    assert(hits() == Set(1L, 3L)) // doc 2 has the words, not the phrase
    // upsert doc 2 so it now CONTAINS the phrase; doc 4 appears with it
    IncrementalPostings.commitUpserts(
      Seq((2L, "now merge scan too"), (4L, "merge scan fresh"))
        .toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(hits() == Set(1L, 2L, 3L, 4L))
    // tombstone doc 1: it must leave the phrase result
    IncrementalPostings.commitDeletes(Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(hits() == Set(2L, 3L, 4L))
    // compaction folds the positional view too and preserves the answer
    IncrementalPostings.compact(spark, dir)
    assert(hits() == Set(2L, 3L, 4L))
    // a non-positional index refuses phrase queries loudly
    val plain = java.nio.file.Files.createTempDirectory("incpost-plain").toString
    IncrementalPostings.init(base.toDF("doc_id", "text"), "doc_id", "text", plain)
    val e = intercept[IllegalArgumentException] {
      IncrementalPostings.phraseSearch(spark, plain, "merge scan")
    }
    assert(e.getMessage.contains("withPositions"))
  }

  test("the file-per-split read session is memoized per parent, weakly") {
    val parent = spark.newSession()
    val derived = IncrementalPostings.filePerSplitSession(parent)
    assert(IncrementalPostings.filePerSplitSession(parent) eq derived)
    assert(derived ne parent)
    // a parent no one else holds is collectable: the memo keys it weakly
    // and the derived session keeps no reference back to it
    def orphan(): java.lang.ref.WeakReference[SparkSession] = {
      val p = spark.newSession()
      IncrementalPostings.filePerSplitSession(p)
      new java.lang.ref.WeakReference(p)
    }
    val ref = orphan()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(ref.get == null, "a dropped parent session stayed reachable")
  }
}
