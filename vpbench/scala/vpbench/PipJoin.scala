package vpbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

import vps.geom.{Geo, GeometryUDT}
import vps.joins.{Geocode, SpatialJoins}
import vps.raster.Raster
import vps.sql.functions._

/** Point-in-polygon joins and zonal statistics over clustered, skewed points
  * and non-rectangular polygons with holes. One step = one cycle of the four
  * operations over every point; its items are the points.
  */
final class PipJoin extends Workload {
  val Size = Gen.JoinSize(points = 100000, lattice = 14, clusters = 120)
  val CellLevel = 9
  val RasterZoom = 9
  val RasterResolution = 64
  val SampleSize = 400
  /** About 25 s on the reference host (4 vCPUs, 2 task threads). */
  override def warmupSteps: Int = 11

  private var inputs: Gen.JoinInputs = _
  private var points: DataFrame = _
  private var polygons: DataFrame = _
  private val pairCounts = mutable.ArrayBuffer.empty[(Long, Long)]
  private var summary = ""
  /** Near-duplicate detection, measured layer by layer in traced runs. */
  private val dedup = new Guest(new NearDupDocs)

  def generate(seed: Long): Unit = inputs = Gen.joinInputs(seed, Size)

  def setup(ctx: Ctx): Unit = {
    val pts = inputs.points
    points = ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(pts.toSeq, ctx.cpus * 2)
        .map { case (i, x, y) => Row(i, Geo.point(x, y)) },
      TileLayers.FeatureSchema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    points.count()
    val polySchema = StructType(Seq(
      StructField("poly_id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("geom", GeometryUDT.Instance, nullable = false)))
    polygons = ctx.spark.createDataFrame(inputs.polygons.indices.map(i =>
      Row(i.toLong, f"region-$i%04d", inputs.polygons(i))).asJava, polySchema)
      .persist(StorageLevel.MEMORY_ONLY)
    polygons.count()
  }

  def release(): Unit = {
    if (points != null) points.unpersist(blocking = true)
    if (polygons != null) polygons.unpersist(blocking = true)
  }

  def step(ctx: Ctx, i: Int): Step = {
    var bc = -1L
    var cell = -2L
    val ops = Seq(
      ctx.op("joins.broadcast") {
        bc = SpatialJoins.pipBroadcastIds(points, polygons).count()
        bc > 0
      },
      ctx.op("joins.cell") {
        cell = SpatialJoins.pipCellJoin(points, polygons, CellLevel).count()
        cell > 0
      },
      ctx.op("joins.geocode") {
        val tagged = Geocode.withRegions(points, polygons)
          .where(size(col("regions")) > 0).count()
        tagged > 0 && tagged <= bc
      },
      ctx.op("raster.zonal") {
        val tiles = ctx.tracer.span("raster.rasterize") {
          val t = Raster.rasterizePoints(points, RasterZoom, RasterResolution)
          if (ctx.tracer.enabled) { t.persist(StorageLevel.MEMORY_ONLY); t.count() }
          t
        }
        val zones = Raster.zonalStats(tiles, polygons, "poly_id").collect()
        tiles.unpersist()
        zones.nonEmpty && zones.forall(r => r.getLong(1) > 0)
      })
    pairCounts += ((bc, cell))
    Step(ops, inputs.points.length.toDouble)
  }

  def check(ctx: Ctx): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    if (pairCounts.exists { case (a, b) => a != b })
      failures += s"broadcast and cell joins returned different pair counts: ${pairCounts.distinct.mkString(" ")}"
    val bcPairs = SpatialJoins.pipBroadcastIds(points, polygons).select(col("id"), col("poly_id"))
    val cellPairs = SpatialJoins.pipCellJoin(points, polygons, CellLevel).select(col("id"), col("poly_id"))
    val onlyBc = bcPairs.exceptAll(cellPairs).count()
    val onlyCell = cellPairs.exceptAll(bcPairs).count()
    if (onlyBc + onlyCell > 0)
      failures += s"pair sets differ: $onlyBc only in broadcast, $onlyCell only in cell join"
    // seeded sample against brute-force JTS containment (no index, no cells)
    val r = Gen.rng(ctx.seed, 5)
    val sample = Array.fill(SampleSize)(inputs.points(r.nextInt(inputs.points.length)))
    val pf = new PreparedGeometryFactory
    val polys = inputs.polygons.map(p => pf.create(p))
    val expected = sample.flatMap { case (id, x, y) =>
      val pt = Geo.point(x, y)
      polys.indices.filter(j => polys(j).intersects(pt)).map(j => (id, j.toLong))
    }.toSet
    import ctx.spark.implicits._
    val ids = sample.map(_._1).distinct.toSeq.toDF("id")
    val got = bcPairs.join(ids, Seq("id")).as[(Long, Long)].collect().toSet
    if (got != expected)
      failures += s"sample of $SampleSize points: join gave ${got.size} pairs, brute force ${expected.size}"
    summary = s"pairs per join ${pairCounts.headOption.map(_._1).getOrElse(0L)}; sample pairs ${expected.size}"
    failures.toSeq ++ dedup.check(ctx)
  }

  def layers(ctx: Ctx, m: Metrics.Sink): Unit = {
    val t = ctx.tracer
    def secs(name: String) = t.named(name).map(_.seconds).sum
    val cells = polygons.select(size(cells_of(col("geom"), CellLevel)).as("n")).agg(avg(col("n"))).head()
    val keyedPts = points.select(cell_at(st_x(col("geom")), st_y(col("geom")), CellLevel).as("_cell"))
    val keyedPolys = polygons.select(explode(cells_of(col("geom"), CellLevel)).as("_cell"))
    val candidates = t.span("joins.candidates") { keyedPts.join(keyedPolys, Seq("_cell")).count() }
    val out = pairCounts.lastOption.map(_._2).getOrElse(0L)
    m.put("joins.cells_per_polygon", cells.getDouble(0))
    m.put("joins.candidate_pairs", candidates.toDouble)
    m.put("joins.refine_hit_ratio", out.toDouble / math.max(1L, candidates))
    val cellSpans = t.named("joins.cell")
    m.put("joins.cell_s", cellSpans.map(_.seconds).sum)
    m.put("joins.cell_shuffle_bytes", cellSpans.map(_.cost.shuffleWriteBytes.toDouble).sum)
    m.put("joins.cell_task_skew", if (cellSpans.isEmpty) 0.0 else cellSpans.map(_.cost.taskSkew).max)
    m.put("joins.broadcast_s", secs("joins.broadcast"))
    m.put("joins.geocode_s", secs("joins.geocode"))
    m.put("raster.rasterize_s", secs("raster.rasterize"))
    m.put("raster.zonal_s", t.named("raster.zonal").map(t.selfSeconds).sum)
    TileLayers.foldTrace(ctx, m)
    dedup.layers(ctx, m)
  }

  override def describe: Seq[String] = Seq(
    s"inputs: ${Size.points} points (${Size.clusters} clusters), ${inputs.polygons.length} polygons, " +
      s"cell level $CellLevel, raster z$RasterZoom/$RasterResolution",
    summary) ++ dedup.describe
}
