package graft.config

/** Typed pipeline configuration (SURVEY §3.3), the union of the
  * reference's `IngestionConfig` (Kafka) and `PaimonConfig` knobs, with
  * the same defaults and validation semantics.
  */
final case class PipelineConfig(
    indexName: String,
    idField: String = "_id",
    // source
    sourcePath: String = "",
    // conversion
    fieldMapping: Map[String, String] = Map.empty,
    dropPrefixes: Seq[String] = Nil,
    // batching (IngestionConfig.java:47, PaimonConfig.java:32)
    batchSize: Int = 1000,
    batchTimeoutMs: Long = 5000L,
    // scheduling (PaimonConfig.java:31-36)
    workerThreads: Int = 4,
    scanIntervalMs: Long = 30000L,
    checkpointTimeoutMinutes: Long = 10L,
    // retry (KafkaIngestor.java:33-34)
    maxRetries: Int = 3,
    retryDelayMs: Long = 5000L,
    // sharding
    shardingStrategy: String = "none",
    shardingPartitionField: String = "",
    maxShards: Int = 0,
    serviceName: String = "",
    // geohash-extension coordinate columns (strategy = "geohash")
    shardingLatField: String = "lat",
    shardingLonField: String = "lon",
    // streaming
    checkpointLocation: String = "",
    // retention / reader leases (DeltaLog.installBase + IndexSink.vacuum
    // scaladoc), both consumed by PipelineRunner.maintain(): keepVersions
    // = manifest versions the document sink's vacuum retains;
    // keepGenerations = previous sealed generations kept when the
    // runner's pipeline-owned stores (its `stores` list) compact. Size
    // both to (longest expected scan or pinned-version age) /
    // (compaction or vacuum interval); 1 = only the latest survives
    // maintenance.
    keepVersions: Int = 1,
    keepGenerations: Int = 1,
    // compaction amortization for the runner's owned stores: maintain()
    // folds a geo/vector/signature/stats store only when its pending
    // commit-log depth EXCEEDS this, and a postings store already when
    // its depth REACHES it (or its touched-docs fraction trips) — 0 =
    // fold whenever anything is pending; an empty log never folds
    // (Stores.maybeCompact). Raise to trade read-side merge work for
    // fewer full base rewrites on high-frequency batch cadences.
    storeMaxDeltas: Int = 0) {
  require(indexName != null && indexName.nonEmpty, "indexName is required")
  require(batchSize > 0, "batchSize must be positive")
  require(workerThreads > 0, "workerThreads must be positive")
  require(keepVersions >= 1, "keepVersions must be >= 1")
  require(keepGenerations >= 1, "keepGenerations must be >= 1")
  require(storeMaxDeltas >= 0, "storeMaxDeltas must be >= 0")
}

/** Dotted-path navigation over nested config maps, mirroring
  * `ConfigHelper.java:80-104` (each segment descends one map level;
  * missing path → None).
  */
object ConfigHelper {
  def getPath(cfg: Map[String, Any], dottedPath: String): Option[Any] =
    dottedPath.split('.').foldLeft(Option[Any](cfg)) {
      case (Some(m: Map[_, _]), seg) =>
        m.asInstanceOf[Map[String, Any]].get(seg)
      case _ => None
    }

  def getString(cfg: Map[String, Any], path: String, default: String): String =
    getPath(cfg, path).map(String.valueOf).getOrElse(default)

  def getInt(cfg: Map[String, Any], path: String, default: Int): Int =
    getPath(cfg, path) match {
      case Some(i: Int) => i
      case Some(l: Long) => l.toInt
      case Some(s: String) => s.toInt
      case _ => default
    }
}
