package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions
import graft.operators.GeoJoin

/** Persisted geo layout: points Hive-partitioned by their `cellDeg°`
  * grid cell — the [[VectorIndex]] cell pattern on [[GeoJoin]]'s grid.
  * Radius and nearest-k queries enumerate the covered cells DRIVER-side
  * (`GeoJoin.coveredCells`, exact-extent / wrap / pole-aware) and read
  * only those directories: `cell IN (…)` is a partition-column
  * predicate, so the file index never lists the unprobed cells
  * (`PartitionFilters` in the scan — spec-pinned). Per-query scan cost
  * is covered-cells / total-cells of the index regardless of corpus
  * size; the reference's geo surface is sharding-side (geohash
  * partitioning, `shard/Sharding.scala` cites it) and this is the
  * serving-side complement.
  *
  * Layout under `dir`:
  *   - `meta/` — one row `(id_col, lat_col, lon_col, cell_deg)`.
  *   - `cells/cell=<i>/` — the base points, one directory per non-empty
  *     grid cell, `cell = (latCell - latCell(-90)) · lonCells + lonCell`,
  *     sequence 0.
  *   - `commits/<seq>/{cells,docs}` — one dir per [[upsert]]/[[delete]]
  *     ([[DeltaLog]] protocol, atomic rename): the batch's cell-tagged
  *     points plus `docs`, the ids WRITTEN BY this commit (a delete
  *     writes ids with no points — a keyed tombstone).
  *
  * Mutation is id-granular last-writer-wins, the [[VectorIndex]] /
  * [[IncrementalPostings]] design verbatim: a point's position comes
  * from the highest sequence that wrote its id (the base if none did);
  * the owner table is one row per ever-touched id and broadcasts until
  * [[compact]] folds it away. A re-upserted id supersedes its old
  * position even when the new one lands in a DIFFERENT cell.
  *
  * One scale property is STRONGER here than in [[VectorIndex]]: the
  * cell id is a pure function of the stored coordinates, so a covered
  * ball is fully contained in its covered-cell set on EVERY leg — the
  * cell filter prunes the base at file-listing time AND the commit legs
  * at row-group time (VectorIndex's radius bound is only proven over
  * base members, so its commit legs must always scan in full).
  *
  * Coordinate hygiene (write-time contract): lat must be in [-90, 90]
  * and both coordinates non-null — violations fail LOUDLY
  * (`raise_error`, the sink's null-`_id` precedent) rather than landing
  * in a null Hive partition invisible to every query. Longitude is
  * normalized into [-180, 180) before persisting, so the stored value,
  * the cell id, and every [-180,180]-convention post-filter
  * ([[GeoFunctions.inBoundingBox]]) agree on one convention; in-range
  * longitudes are stored bit-identical (the normalization term is
  * exactly zero for them).
  */
object GeoIndex extends DepthGatedStore {

  protected def baseName: String = "cells"

  private val metaSchema = StructType(Seq(
    StructField("id_col", StringType, nullable = false),
    StructField("lat_col", StringType, nullable = false),
    StructField("lon_col", StringType, nullable = false),
    StructField("cell_deg", DoubleType, nullable = false)))

  private final case class Meta(idCol: String, latCol: String,
      lonCol: String, cellDeg: Double)

  // The schema contract is immutable between rebuilds (upsert/delete/
  // compact never touch it), so it memoizes per (session, dir),
  // refreshed by [[write]] — one meta read (a Spark job) per serving
  // session instead of one per query (and per knnSearch ring probe).
  // The entry is validated against the meta directory's modification
  // time on every lookup (one filesystem RPC, no job): an index rebuilt
  // OUT-OF-BAND with a different cellDeg bumps the mtime, so a
  // long-lived serving session re-reads instead of silently computing
  // cell ids on the stale lattice (wrong pruning, wrong results).
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Long, Meta)]()

  private def metaMTime(spark: SparkSession, dir: String): Long =
    DeltaLog.fs(spark, dir)
      .getFileStatus(new Path(s"$dir/meta")).getModificationTime

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    val mtime = metaMTime(spark, dir)
    metaCache.compute((spark, dir), { case (_, cached) =>
      if (cached != null && cached._1 == mtime) cached
      else {
        val r = spark.read.schema(metaSchema).parquet(s"$dir/meta").head()
        (mtime,
          Meta(r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      }
    })._2
  }

  /** Combined non-negative cell id for a (latCell, lonCell) pair. */
  private def cellId(la: Int, lo: Int, cellDeg: Double): Int =
    (la - GeoJoin.latCellOf(-90.0, cellDeg)) *
      GeoJoin.lonCellCount(cellDeg) + lo

  /** The grid-cell id of a (lat, lon) column pair — the column twin of
    * [[cellId]]∘([[GeoJoin.latCellOf]], [[GeoJoin.lonCellOf]]).
    */
  private def cellExpr(latCol: String, lonCol: String,
      cellDeg: Double): Column = {
    val nLon = GeoJoin.lonCellCount(cellDeg)
    val latOff = GeoJoin.latCellOf(-90.0, cellDeg)
    ((floor(col(latCol) / cellDeg).cast("int") - lit(latOff)) * nLon +
      least(floor(pmod(col(lonCol), lit(360.0)) / cellDeg).cast("int"),
        lit(nLon - 1))).cast("int")
  }

  /** Reject invalid coordinates loudly and normalize longitude into
    * [-180, 180) — see the class doc's coordinate-hygiene contract.
    */
  private def checkedPoints(df: DataFrame, latCol: String,
      lonCol: String): DataFrame = {
    val latT = df.schema(latCol).dataType
    // NaN lat fails the range comparison below, but a NaN/±Inf lon would
    // sail through isNotNull, make cellExpr yield a null cell, and land
    // the point in a null Hive partition invisible to every cell-pruned
    // query — exactly the silent failure this guard exists to prevent.
    // Reject non-finite longitudes explicitly.
    val lonFinite = !isnan(col(lonCol).cast("double")) &&
      abs(col(lonCol).cast("double")) =!= Double.PositiveInfinity
    df.withColumn(latCol,
        when(col(latCol).isNotNull && col(lonCol).isNotNull && lonFinite &&
            col(latCol) >= -90.0 && col(latCol) <= 90.0, col(latCol))
          .otherwise(raise_error(concat(
            lit("GeoIndex: invalid coordinate (lat="),
            coalesce(col(latCol).cast("string"), lit("null")),
            lit(", lon="),
            coalesce(col(lonCol).cast("string"), lit("null")),
            lit(") — lat must be in [-90, 90], lon finite, both non-null")))
            .cast(latT)))
      .withColumn(lonCol,
        col(lonCol) - lit(360.0) * floor((col(lonCol) + 180.0) / 360.0))
  }

  /** Choose a lattice pitch for [[write]] FROM THE DATA: the coarsest
    * `cellDeg` on a fixed ladder whose mean occupancy over OCCUPIED
    * cells is at most `targetPerCell` points — so callers don't
    * hand-tune the grid against an unseen distribution (oceans stay
    * empty; uniform-over-lattice estimates mislead). Cost: ONE
    * aggregate pass — every candidate's occupied-cell count is an
    * `approx_count_distinct` over its [[cellExpr]] in the same job.
    * Falls back to the finest rung when even it exceeds the target
    * (one metro-scale hot spot — at that point skew, not pitch, is the
    * signal; see [[stats]]). The default target sizes a cell directory
    * around one comfortable parquet task (~1M points ≈ tens of MB).
    */
  def pickCellDeg(points: DataFrame, latCol: String, lonCol: String,
      targetPerCell: Long = 1000000L): Double = {
    require(targetPerCell > 0,
      s"targetPerCell must be positive, got $targetPerCell")
    val ladder = Seq(45.0, 30.0, 15.0, 10.0, 5.0, 2.0, 1.0, 0.5, 0.25)
    val aggs = count(lit(1)).as("_n") +: ladder.zipWithIndex.map {
      case (d, i) =>
        approx_count_distinct(cellExpr(latCol, lonCol, d)).as(s"_c$i")
    }
    val r = points.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    ladder.zipWithIndex
      .find { case (_, i) =>
        n.toDouble / math.max(1L, r.getLong(i + 1)) <= targetPerCell.toDouble
      }
      .map(_._1).getOrElse(ladder.last)
  }

  /** Lay `points` out by grid cell, resetting any previous commit log
    * (a rebuild absorbs every live row the caller passes). One shuffle
    * on the cell key keeps one file per cell (not tasks × cells small
    * files).
    */
  def write(points: DataFrame, idCol: String, latCol: String,
      lonCol: String, dir: String, cellDeg: Double = 15.0): Unit = {
    require(cellDeg > 0 && cellDeg <= 45,
      s"cellDeg must be in (0, 45], got $cellDeg")
    val spark = points.sparkSession
    // r17: meta and base are independent writes — concurrent jobs
    // (guide §2.6; A/B-measured vs sequential at sf0.1: parallel wins
    // on every geo row, 15.56 s vs 16.36 s over the 8-row family).
    // r18: the advisor's meta-before-install ordering was implemented
    // and MEASURED at +8-26% on the store-building rows (the serialized
    // tiny job no longer overlaps the install; x_geo_upsert
    // 2.40→2.79 s) — rejected; the partial-failure window it narrows is
    // already bounded: a rebuild is a serving cutover under a fenced
    // single writer, and a crash mid-write leaves the store a rebuild
    // re-runs anyway (OPTIMIZATION_r18.md, advisor item 2).
    DeltaLog.inParallel(
      () => writeRows(spark, s"$dir/meta", metaSchema,
        Seq(Row(idCol, latCol, lonCol, cellDeg))),
      () => DeltaLog.installBase(spark, dir, "cells", fenceDomain = dir) { tmp =>
        checkedPoints(points, latCol, lonCol)
          .withColumn("cell", cellExpr(latCol, lonCol, cellDeg))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      }: Unit)
    resetLog(spark, dir)
    metaCache.put((spark, dir),
      (metaMTime(spark, dir), Meta(idCol, latCol, lonCol, cellDeg)))
  }

  /** Upsert a batch by key: tag with the grid cell (same hygiene and
    * same cell function as [[write]]) and commit ONE O(batch) delta —
    * the batch's points plus its ids as the ownership record, `cell` as
    * a DATA column (row-group pruning; no directory fan-out per tiny
    * batch). A re-upserted id supersedes its previous position at read
    * time; ids new to the index simply appear. Returns the commit
    * sequence. Each id at most once per batch, non-null — the
    * [[VectorIndex.upsert]] guard verbatim (two versions of an id in
    * one commit would both survive the one-owner-sequence-per-id
    * filter; a null id could never be superseded or deleted).
    */
  def upsert(points: DataFrame, idCol: String, latCol: String,
      lonCol: String, dir: String): Int = {
    val spark = points.sparkSession
    val m = readMeta(spark, dir)
    require(m.idCol == idCol && m.latCol == latCol && m.lonCol == lonCol,
      s"index at $dir was built over ('${m.idCol}', '${m.latCol}', " +
        s"'${m.lonCol}'), not ('$idCol', '$latCol', '$lonCol')")
    requireUniqueKeys(points, idCol)
    // one file per O(batch) commit leg, cell-sorted for row-group
    // pruning: the batch inherits the source scan's partitioning (32
    // near-empty files per tiny commit otherwise), and every later read
    // re-lists every commit's files — commit-leg file count is a
    // SERVING cost, not just a write cost
    val tagged = checkedPoints(points, latCol, lonCol)
      .withColumn("cell", cellExpr(latCol, lonCol, m.cellDeg))
      .select(col(idCol), col(latCol), col(lonCol), col("cell"))
      .coalesce(1).sortWithinPartitions("cell")
    commit(spark, dir) { tmp =>
      DeltaLog.inParallel( // independent O(batch) legs → concurrent jobs (r17)
        () => tagged.write.mode("overwrite").parquet(s"$tmp/cells"),
        () => tagged.select(col(idCol))
          .write.mode("overwrite").parquet(s"$tmp/docs"))
    }
  }

  /** Delete by key: the ids claim ownership with no points — a keyed
    * tombstone, O(ids) bytes; null ids are dropped. Returns the commit
    * sequence.
    */
  def delete(ids: DataFrame, idCol: String, dir: String): Int = {
    val spark = ids.sparkSession
    val m = readMeta(spark, dir)
    require(m.idCol == idCol,
      s"index at $dir is keyed by '${m.idCol}', not '$idCol'")
    commitTombstones(spark, dir, ids.select(col(idCol)))
  }

  /** The LIVE point set, id-granular last-writer-wins over base +
    * commits, with an optional cell filter pushed into EVERY leg (sound
    * here — the cell id is a function of the stored coordinates; see
    * the class doc): partition pruning on the base, row-group pruning
    * on the O(batch) commit legs. The owner table is never filtered —
    * a base row superseded by an out-of-cover upsert must still lose.
    */
  private[sink] def live(spark: SparkSession, dir: String,
      cellFilter: Option[Seq[Int]],
      preSeqs: Option[Seq[Int]] = None): DataFrame = {
    val m = readMeta(spark, dir)
    def pruned(df: DataFrame): DataFrame =
      cellFilter.fold(df)(cs => df.filter(col("cell").isin(cs: _*)))
    val seqs = preSeqs.getOrElse(commitSeqs(spark, dir))
    val base = spark.read.parquet(DeltaLog.currentBase(spark, dir, "cells"))
    liveView(pruned(base), seqs, ownerTable(spark, dir, seqs, m.idCol),
      m.idCol)(s => pruned(leg(spark, dir, s, "cells")))
  }

  /** The compaction fold: the live view, cell-partitioned. */
  protected def fold(spark: SparkSession, dir: String,
      seqs: Seq[Int]): String => Unit = {
    val folded = live(spark, dir, None, Some(seqs))
    tmp => folded.write.mode("overwrite").partitionBy("cell").parquet(tmp)
  }

  /** One-row index health report:
    * `(n_points, n_cells, n_nonempty_cells, max_cell, skew,
    * n_pending_commits)` where `n_cells` is the full grid lattice and
    * `skew = max_cell / (n_points / n_nonempty_cells)` — 1.0 means the
    * OCCUPIED cells are uniformly loaded (geo data leaves oceans empty,
    * so uniformity over the whole lattice is not the useful yardstick).
    * An operator alerts on `skew` (one hot cell dominates every query
    * that covers it — re-[[write]] with a finer `cellDeg`) and on
    * `n_pending_commits` (read-time resolution cost — run [[compact]]).
    * Cost: one aggregate over the live view.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(spark, dir)
    val nLat = GeoJoin.latCellOf(90.0, m.cellDeg) -
      GeoJoin.latCellOf(-90.0, m.cellDeg) + 1
    val nCells = nLat.toLong * GeoJoin.lonCellCount(m.cellDeg)
    // one commit-log listing feeds both the depth gauge and the live
    // view's leg enumeration — no second filesystem walk
    val seqs = commitSeqs(spark, dir)
    val pending = seqs.length
    live(spark, dir, None, preSeqs = Some(seqs))
      .groupBy("cell").agg(count(lit(1)).as("_n"))
      .agg(coalesce(sum("_n"), lit(0L)).as("n_points"),
        count(lit(1)).as("n_nonempty_cells"),
        coalesce(max("_n"), lit(0L)).as("max_cell"))
      .select(col("n_points"),
        lit(nCells).as("n_cells"),
        col("n_nonempty_cells"),
        col("max_cell"),
        when(col("n_points") > 0,
            round(col("max_cell") * col("n_nonempty_cells") /
              col("n_points"), 4))
          .otherwise(lit(0.0)).as("skew"),
        lit(pending).cast("long").as("n_pending_commits"))
  }

  /** [[radiusSearch]] body against an already-loaded meta — what the
    * [[knnSearch]] ring loop iterates so the meta read happens once per
    * call, not once per probe.
    */
  private def radiusCore(spark: SparkSession, dir: String, m: Meta,
      centerLat: Double, centerLon: Double, radiusKm: Double): DataFrame = {
    val cells = GeoJoin.coveredCells(centerLat, centerLon, radiusKm,
        m.cellDeg)
      .map { case (la, lo) => cellId(la, lo, m.cellDeg) }
    live(spark, dir, Some(cells.toSeq))
      .filter(GeoFunctions.inBoundingBox(col(m.latCol), col(m.lonCol),
        centerLat, centerLon, radiusKm))
      .withColumn("dist_km", GeoFunctions.haversineKm(
        col(m.latCol), col(m.lonCol), lit(centerLat), lit(centerLon)))
      .filter(col("dist_km") <= radiusKm)
      .drop("cell")
  }

  /** Every live indexed point within `radiusKm` of the center, with
    * `dist_km` appended — reads ONLY the covered cell directories.
    */
  def radiusSearch(spark: SparkSession, dir: String, centerLat: Double,
      centerLon: Double, radiusKm: Double): DataFrame = {
    require(radiusKm > 0, s"radiusKm must be positive, got $radiusKm")
    radiusCore(spark, dir, readMeta(spark, dir), centerLat, centerLon,
      radiusKm)
  }

  /** Every live indexed point inside `polygon` ((lat, lon) vertices,
    * [-180, 180] longitude convention) — the base read pruned to the
    * cells intersecting the polygon's bounding box (driver-side plan
    * literals, like the radius cover), then the exact plan-time-unrolled
    * ray cast ([[GeoFunctions.inPolygon]]) on the survivors. Sound: a
    * point inside the polygon has lat/lon inside the vertex extents, and
    * the cell id is a pure function of the stored (normalized)
    * coordinates, so its cell is in the enumerated box on every leg.
    * A polygon crossing the antimeridian must be split by the caller
    * into two (the convention the scan-form query uses too — ray
    * casting itself is wrap-unaware).
    */
  def polygonSearch(spark: SparkSession, dir: String,
      polygon: Seq[(Double, Double)]): DataFrame = {
    require(polygon.size >= 3, "polygon needs at least 3 vertices")
    require(polygon.forall { case (la, lo) =>
        la >= -90 && la <= 90 && lo >= -180 && lo <= 180 },
      "polygon vertices must be lat in [-90,90], lon in [-180,180]")
    val m = readMeta(spark, dir)
    val lats = polygon.map(_._1)
    val lons = polygon.map(_._2)
    val latLo = GeoJoin.latCellOf(lats.min, m.cellDeg)
    val latHi = GeoJoin.latCellOf(lats.max, m.cellDeg)
    val nLon = GeoJoin.lonCellCount(m.cellDeg)
    val lonLo = GeoJoin.lonCellOf(lons.min, m.cellDeg)
    val lonHi = GeoJoin.lonCellOf(lons.max, m.cellDeg)
    val span = ((lonHi - lonLo) % nLon + nLon) % nLon
    val cells = for {
      la <- latLo to latHi
      i <- 0 to span
    } yield cellId(la, ((lonLo + i) % nLon + nLon) % nLon, m.cellDeg)
    live(spark, dir, Some(cells))
      .filter(GeoFunctions.inPolygon(col(m.latCol), col(m.lonCol), polygon))
      .drop("cell")
  }

  /** Spatial radius JOIN off the persisted layout: every
    * `(center, point)` pair within `radiusKm`, reading ONLY the union
    * of the centers' covered cells — the serving twin of
    * [[GeoJoin.geoRadiusJoin]] (which it delegates to for the join
    * itself, on the pruned frame). At 100 TB the base scan is bounded
    * by covered-cells/total-cells however many points exist; the join
    * stays the grid-cell equi-join with no cross product. `centers` is
    * the driver-bounded side (serving sites, POIs) — for unbounded
    * center sets use the DataFrame overload.
    */
  def radiusJoin(spark: SparkSession, dir: String,
      centers: Seq[(Long, Double, Double)], radiusKm: Double): DataFrame = {
    require(centers.nonEmpty, "radiusJoin needs at least one center")
    require(radiusKm > 0, s"radiusKm must be positive, got $radiusKm")
    val m = readMeta(spark, dir)
    val cells = centers.flatMap { case (_, clat, clon) =>
      GeoJoin.coveredCells(clat, clon, radiusKm, m.cellDeg)
        .map { case (la, lo) => cellId(la, lo, m.cellDeg) }
    }.distinct
    val pruned = live(spark, dir, Some(cells)).drop("cell")
    GeoJoin.geoRadiusJoin(pruned, m.idCol, m.latCol, m.lonCol,
      centers, radiusKm)
  }

  /** Shared tail of the DataFrame-centers join paths: join a resolved
    * live view against the natively-replicated center cover on the
    * STORED `cell` id ([[GeoJoin.replicateToCells]] emits the same cell
    * sets as the driver-side enumeration, so the answers are identical
    * to the Seq forms), haversine-verified against the (possibly
    * per-center) `radius` column. No driver-side center state anywhere.
    */
  private def joinCore(m: Meta, lv: DataFrame, centers: DataFrame,
      cIdCol: String, cLatCol: String, cLonCol: String,
      radius: Column): DataFrame = {
    val nLon = GeoJoin.lonCellCount(m.cellDeg)
    val latOff = GeoJoin.latCellOf(-90.0, m.cellDeg)
    val c = centers.withColumn("_r", radius)
      .select(col(cIdCol).as("center_id"), col(cLatCol).as("_clat"),
        col(cLonCol).as("_clon"), col("_r"))
    val repl = GeoJoin.replicateToCells(c, "_clat", "_clon", col("_r"),
        m.cellDeg)
      .withColumn("cell",
        ((col("_cla") - lit(latOff)) * nLon + col("_clo")).cast("int"))
      .drop("_cla", "_clo")
    lv.join(repl, Seq("cell"))
      .withColumn("dist_km", GeoFunctions.haversineKm(
        col(m.latCol), col(m.lonCol), col("_clat"), col("_clon")))
      .filter(col("dist_km") <= col("_r"))
      .select(col("center_id"), col(m.idCol), col("dist_km"))
  }

  /** DataFrame-centers form of [[radiusJoin]] — the UNBOUNDED-centers
    * path ("a million orders × depots within r"): centers never land on
    * the driver. The live view resolves ONCE; the cell cover is
    * computed natively (explode over per-center ring cells) and joined
    * on the stored `cell` id. The trade vs the Seq form is explicit:
    * plan-literal file pruning needs a driver-side cell list, so here
    * the base is a full cell-tagged scan — when the center side is
    * small enough to broadcast, Spark's dynamic partition pruning
    * recovers file-level skipping at runtime, and when it is truly
    * unbounded the centers cover most of the lattice anyway, so the
    * cell equi-join (each point shuffled once, no cross product), not
    * the prune, is the scale mechanism. `radius` may be `lit(km)` or a
    * per-center column. Output `(center_id, idCol, dist_km)` ≡ the Seq
    * form on the same centers.
    */
  def radiusJoin(spark: SparkSession, dir: String, centers: DataFrame,
      cIdCol: String, cLatCol: String, cLonCol: String,
      radius: Column): DataFrame = {
    val m = readMeta(spark, dir)
    joinCore(m, live(spark, dir, None), centers, cIdCol, cLatCol, cLonCol,
      radius)
  }

  /** Batch nearest-k off the cell layout: the `k` nearest live indexed
    * points for EACH center — "nearest depot for every order". Thin
    * Seq-centers convenience over the DataFrame form below — ONE
    * implementation (the distributed ring expansion with anti-join
    * state and a single remaining-count scalar per round), so the Seq
    * form inherits its exactness argument and scale shape and the two
    * outputs match row for row by construction (spec-pinned).
    */
  def knnJoin(spark: SparkSession, dir: String,
      centers: Seq[(Long, Double, Double)], k: Int): DataFrame = {
    require(centers.nonEmpty, "knnJoin needs at least one center")
    knnJoin(spark, dir,
      spark.createDataFrame(centers).toDF("center_id", "_clat", "_clon"),
      "center_id", "_clat", "_clon", k)
  }

  /** DataFrame-centers form of [[knnJoin]] — nearest-k for EACH center
    * of an UNBOUNDED center frame ("a million orders × nearest depot"),
    * with no center ever landing on the driver. Same lock-step ring
    * expansion, kept distributed: each doubling round joins only the
    * still-unsatisfied centers (an anti-join on the satisfied id set,
    * not a collected Seq), persists the centers-sized radius-assignment
    * state, and the ONLY driver value per round is the remaining-count
    * scalar that steers the ≤ ~⌈log₂(antipode/cellRing)⌉ loop. The
    * final pass is ONE join with each center's own stopping radius as a
    * column (+10 m margin), then the per-center window rank. The live
    * view resolves once per call. Exactness: identical stop radii and
    * the same verified join as the Seq form, so the outputs match row
    * for row; the per-call footprint beyond the join is one persisted
    * centers-sized frame (auto-unpersisted when the result is GC'd).
    */
  def knnJoin(spark: SparkSession, dir: String, centers: DataFrame,
      cIdCol: String, cLatCol: String, cLonCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val m = readMeta(spark, dir)
    val lv = live(spark, dir, None)
    val maxR = math.Pi * GeoFunctions.EarthRadiusKm
    var r = m.cellDeg * 111.2 // one cell ring, the knnSearch start
    var state = centers
      .select(col(cIdCol).as("center_id"), col(cLatCol).as("_fclat"),
        col(cLonCol).as("_fclon"))
      .withColumn("_stop_r", lit(null).cast("double"))
    var persisted: Option[DataFrame] = None
    var continue = true
    while (continue) {
      val pend = state.filter(col("_stop_r").isNull)
      val satIds = joinCore(m, lv, pend, "center_id", "_fclat", "_fclon",
          lit(r))
        .groupBy("center_id").agg(count(lit(1)).as("_n"))
        .filter(col("_n") >= k)
        .select(col("center_id"), lit(1).as("_hit"))
      val next = state.join(satIds, Seq("center_id"), "left")
        .withColumn("_stop_r",
          coalesce(col("_stop_r"), when(col("_hit") === 1, lit(r))))
        .drop("_hit")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the one bounded driver value per round: how many centers remain
      val nRemaining = next.filter(col("_stop_r").isNull).count()
      persisted.foreach(_.unpersist())
      persisted = Some(next)
      state = next
      if (nRemaining == 0L) continue = false
      else if (r >= maxR) { // fewer than k points exist: keep them all
        state = state.withColumn("_stop_r",
          coalesce(col("_stop_r"), lit(maxR)))
        continue = false
      } else r = math.min(r * 2, maxR)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("center_id")
      .orderBy(col("dist_km"), col(m.idCol))
    joinCore(m, lv, state, "center_id", "_fclat", "_fclon",
        least(col("_stop_r") + 0.01, lit(maxR)))
      .withColumn("dist_km", round(col("dist_km"), 3))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** The `k` nearest live indexed points to the center by haversine —
    * ring-expansion off the cell layout: probe a radius, double until
    * ≥ k points fall inside (≤ ~8 bounded driver-side counts), then
    * top-k. Exactness: the covered-cell set fully contains each probed
    * ball, so once k points sit within `r`, no unread cell can hold a
    * closer point. The final radius saturates at half the circumference
    * (the whole index) for k > matching points. Output
    * `(idCol, dist_km rounded 3dp)` ranked `(dist_km, id)` — the
    * engine-reproducible cut the scan-form nearest-k uses.
    */
  def knnSearch(spark: SparkSession, dir: String, centerLat: Double,
      centerLon: Double, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val m = readMeta(spark, dir)
    val maxR = math.Pi * GeoFunctions.EarthRadiusKm // antipode distance
    var r = m.cellDeg * 111.2 // ~km per degree: one cell ring
    while (radiusCore(spark, dir, m, centerLat, centerLon, r)
        .limit(k).count() < k && r < maxR) {
      r = math.min(r * 2, maxR)
    }
    // +10 m margin: a point just OUTSIDE r can 3dp-round-tie with the
    // kth point inside and win the id tie-break — include the boundary
    // shell so the cut is identical to the whole-corpus scan form
    radiusCore(spark, dir, m, centerLat, centerLon,
        math.min(r + 0.01, maxR))
      .withColumn("dist_km", round(col("dist_km"), 3))
      .orderBy(col("dist_km"), col(m.idCol))
      .limit(k)
      .select(col(m.idCol), col("dist_km"))
  }
}
