package vpbench

import java.io.File
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.Geometry

import vps.geom.GeometryUDT
import vps.sql.functions._

/** Shared pieces of the two tile-path workloads: loading features, reading
  * a sink tree back, and the isolated layer probes of a traced run.
  */
object TileLayers {

  val FeatureSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("geom", GeometryUDT.Instance, nullable = false)))

  /** (id, geom) rows as a cached frame spread over the session's shuffle
    * width (round-robin, so large features do not share a partition).
    */
  def load(spark: SparkSession, rows: Iterator[(Long, Geometry)]): DataFrame = {
    val df = spark.createDataFrame(rows.map { case (i, g) => Row(i, g) }.toSeq.asJava, FeatureSchema)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Small local frame (no repartition, no cache). */
  def local(spark: SparkSession, rows: Seq[(Long, Geometry)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, g) => Row(i, g) }.asJava, FeatureSchema)

  /** Tiles under a TileSink tree: (z, x, y) -> bytes. */
  def readTree(dir: File): Map[(Int, Int, Int), Array[Byte]] = {
    val out = Map.newBuilder[(Int, Int, Int), Array[Byte]]
    Option(dir.listFiles()).getOrElse(Array.empty).filter(d => d.isDirectory && d.getName.forall(_.isDigit))
      .foreach { zd =>
        zd.listFiles().foreach { xd =>
          xd.listFiles().filter(_.getName.endsWith(".mvt")).foreach { f =>
            val y = f.getName.stripSuffix(".mvt").toInt
            out += ((zd.getName.toInt, xd.getName.toInt, y) ->
              java.nio.file.Files.readAllBytes(f.toPath))
          }
        }
      }
    out.result()
  }

  /** Order-insensitive digest of (z, x, y, mvt) tiles. */
  def digest(tiles: Iterator[((Int, Int, Int), Array[Byte])]): Long =
    tiles.map { case ((z, x, y), b) => tileHash(z, x, y, b) }.sum

  def tileHash(z: Int, x: Int, y: Int, b: Array[Byte]): Long =
    vps.text.TextOps.mix64(java.util.Arrays.hashCode(b).toLong ^
      (z.toLong << 58) ^ (x.toLong << 29) ^ y.toLong) ^ b.length

  /** (tile count, [[digest]]) of a tile dataset, computed on the executors. */
  def digestOf(tiles: org.apache.spark.sql.Dataset[vps.tiling.TileRow]): (Long, Long) =
    tiles.rdd.map(t => (1L, tileHash(t.zoom, t.x, t.y, t.mvt)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs the tile layers one at a time over `features` at `zoom`, each
    * from a cached copy of the previous layer's output so a span holds one
    * layer's work: key generation, simplification, then fragment clip +
    * encode. Keys come from the geometry, or — as in the re-keyed pyramid —
    * by halving `parentOf`'s keys (the probe of the zoom above). Returns
    * the cached keyed frame; the caller unpersists it.
    */
  def probe(ctx: Ctx, features: DataFrame, zoom: Int, parentOf: Option[DataFrame]): DataFrame = {
    val t = ctx.tracer
    val tol = vps.kernels.Simplify.toleranceForZoom(zoom)
    val keyed = parentOf match {
      case Some(p) => p.withColumn("keys", parent_tile_keys(col("keys")))
      case None => features.select(col("id"), col("geom"), tile_keys(col("geom"), zoom).as("keys"))
    }
    val k = t.span("geom.tile_keys") {
      val c = keyed.persist(StorageLevel.MEMORY_ONLY)
      val r = c.agg(count(lit(1)), sum(size(col("keys")))).head()
      t.count("features", r.getLong(0).toDouble)
      t.count("keys", if (r.isNullAt(1)) 0 else r.getLong(1).toDouble)
      c
    }
    val simplified = t.span("kernels.simplify") {
      val c = k.select(col("id"), col("keys"), st_numPoints(col("geom")).as("n0"),
        st_simplify(col("geom"), lit(tol), preserveTopology = false).as("geom"))
        .persist(StorageLevel.MEMORY_ONLY)
      val r = c.agg(sum(col("n0")), sum(st_numPoints(col("geom")))).head()
      t.count("vertices_in", if (r.isNullAt(0)) 0 else r.getLong(0).toDouble)
      t.count("vertices_out", if (r.isNullAt(1)) 0 else r.getLong(1).toDouble)
      c
    }
    t.span("sql.tile_fragments") {
      val r = simplified
        .select(col("id"), col("geom"), explode(col("keys")).as("k"))
        .select(col("id"), col("geom"), col("k.x").as("x"), col("k.y").as("y"))
        .select(size(tile_fragments(col("geom"), zoom, col("x"), col("y"), 4096, false)).as("n"))
        .agg(count(lit(1)), sum(col("n"))).head()
      t.count("pairs", r.getLong(0).toDouble)
      t.count("fragments", if (r.isNullAt(1)) 0 else r.getLong(1).toDouble)
    }
    simplified.unpersist()
    k
  }

  /** Folds the probe and op spans of one traced step into the tile-path
    * layer metrics. `tileSpans` are the spans that materialized tiles
    * (simplify, clip, fragment encode, exchange and tile encode fused in one
    * job); the probes time the first layers of that job in isolation.
    */
  def foldTileLayers(ctx: Ctx, m: Metrics.Sink, tileSpans: Seq[Span]): Unit = {
    val t = ctx.tracer
    def total(name: String) = t.named(name).map(_.seconds).sum
    def counted(name: String, key: String) = t.named(name).map(_.counts.getOrElse(key, 0.0)).sum
    m.put("geom.tile_keys_s", total("geom.tile_keys"))
    m.put("geom.keys_per_feature",
      counted("geom.tile_keys", "keys") / math.max(1.0, counted("geom.tile_keys", "features")))
    m.put("kernels.simplify_s", total("kernels.simplify"))
    m.put("kernels.simplify_vertex_ratio",
      counted("kernels.simplify", "vertices_out") / math.max(1.0, counted("kernels.simplify", "vertices_in")))
    m.put("sql.tile_fragments_s", total("sql.tile_fragments"))
    m.put("sql.fragments_per_pair",
      counted("sql.tile_fragments", "fragments") / math.max(1.0, counted("sql.tile_fragments", "pairs")))
    m.put("tiling.pack_encode_s", tileSpans.map(t.selfSeconds).sum)
    m.put("tiling.shuffle_bytes", tileSpans.map(_.cost.shuffleWriteBytes.toDouble).sum)
    m.put("tiling.spill_bytes", tileSpans.map(_.cost.diskSpillBytes.toDouble).sum)
    m.put("tiling.task_skew", if (tileSpans.isEmpty) 0.0 else tileSpans.map(_.cost.taskSkew).max)
    val sinks = t.named("tiling.sink")
    m.put("tiling.sink_s", sinks.map(_.seconds).sum)
    m.put("tiling.sink_files", sinks.map(_.counts.getOrElse("files", 0.0)).sum)
  }

  /** Executor totals over every span of the step. */
  def foldTrace(ctx: Ctx, m: Metrics.Sink): Unit = {
    val top = ctx.tracer.all
    m.put("trace.executor_cpu_s", top.map(_.cost.executorCpuS).sum)
    m.put("trace.gc_s", top.map(_.cost.gcS).sum)
    m.put("trace.peak_exec_memory_bytes",
      if (top.isEmpty) 0.0 else top.map(_.cost.peakExecMemoryBytes.toDouble).max)
  }
}
