package vps.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Same-JVM N vs 4N probe: run the headline workloads under a local[4]
  * context, stop it, rerun under local[16] in the SAME JVM — JIT state carries
  * across, removing warm-up asymmetry between legs. 2 warm-ups + best-of-3.
  */
object ScalingProbe {
  private def bestOf(n: Int)(f: => Unit): Double = {
    f; f // 2 warm-ups
    (1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
  }

  def leg(cpus: Int, replication: Int): Map[String, Double] = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-scale-local" else "/tmp")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // object-hash aggs (grid_burn, collect_capped, keep_smallest) stay hash-based
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.1", replication)
    val points = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select((col("id") * 10 + col("span_offset")).as("id"), col("geom")).persist()
    val nPoints = points.count().toDouble
    val polys = spark.range(0, 1000).toDF("poly_id")
      .select(col("poly_id"),
        ((col("poly_id") * 97 % 340) - 170.0).as("lon0"),
        ((col("poly_id") * 61 % 150) - 75.0).as("lat0"))
      .select(col("poly_id"), vps.sql.functions.st_geomFromWKT(format_string(
        "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
        col("lon0"), col("lat0"), col("lon0") + 15.0, col("lat0"),
        col("lon0") + 15.0, col("lat0") + 12.0, col("lon0"), col("lat0") + 12.0,
        col("lon0"), col("lat0"))).as("geom")).persist()
    polys.count()
    val vecs = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .repartition(cpus)
      .withColumn("r", explode(lit((0 until replication).toArray)))
      .select((col("vec_id") * replication + col("r")).as("vec_id"), col("embedding"))
      .persist()
    val nVecs = vecs.count().toDouble
    val queries = vecs.where(col("vec_id") % lit(replication) === 0).limit(64)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val tileSec = bestOf(3) {
      vps.tiling.TilePipeline.tileZoom(points, 8).toDF().agg(count(lit(1))).head()
    }
    val nTiles = vps.tiling.TilePipeline.tileZoom(points, 8).toDF().count().toDouble
    val pipSec = bestOf(3) { vps.joins.SpatialJoins.pipBroadcast(points, polys).count() }
    val pipIdsSec = bestOf(3) { vps.joins.SpatialJoins.pipBroadcastIds(points, polys).count() }
    val cellSec = bestOf(3) { vps.joins.SpatialJoins.pipCellJoin(points, polys, level = 7).count() }
    val knnSec = bestOf(3) { vps.ml.VectorSearch.bruteTopK(vecs, queries, k = 10).count() }
    val out = Map(
      "tiles_per_sec" -> nTiles / tileSec,
      "pip_rows_per_sec" -> nPoints / pipSec,
      "pip_ids_rows_per_sec" -> nPoints / pipIdsSec,
      "pip_cell_rows_per_sec" -> nPoints / cellSec,
      "knn_vec_rows_per_sec" -> nVecs / knnSec)
    println(s"leg cpus=$cpus secs: tile=$tileSec pip=$pipSec ids=$pipIdsSec cell=$cellSec knn=$knnSec")
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    out
  }

  def main(args: Array[String]): Unit = {
    val replication = args.headOption.map(_.toInt).getOrElse(3000)
    val lo = leg(4, replication)
    val hi = leg(16, replication)
    lo.keys.toSeq.sorted.foreach { k =>
      println(f"$k: ${lo(k)}%,.0f -> ${hi(k)}%,.0f  eff ${hi(k) / lo(k) / 4}%.2f")
    }
  }
}
