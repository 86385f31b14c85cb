package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pyramid strategy comparison for BENCH/BASELINE.md: per-zoom recompute
  * (pyramid: re-key the cached corpus at EVERY zoom) vs parent re-key
  * (pyramidRekey: keys computed once at maxZoom, halved per zoom) under
  * different frame persist levels.
  * Usage: runMain vps.tools.PyramidBench [sfDir] [replication] [cpus] [modes]
  *   modes: comma list of recompute|rekey-mem|rekey-disk|rekey-none
  */
object PyramidBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replication = args.lift(1).map(_.toInt).getOrElse(3000)
    val cpus = args.lift(2).map(_.toInt).getOrElse(16)
    val modes = args.lift(3).getOrElse("recompute,rekey-mem,rekey-disk,rekey-none").split(",").toSeq
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus * 2)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-pyr-local" else "/tmp")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // object-hash aggs (grid_burn, collect_capped, keep_smallest) stay hash-based
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = vps.docs.InterleavedDocs.fromDocuments(spark, dir, replication)
    val points = vps.docs.InterleavedDocs.extractGeoSpans(docs)
      .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))
      .persist()
    println("points=" + points.count())
    val (minZ, maxZ) = (6, 12)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); a
    }

    var reference: Option[Set[(Int, Long, Long)]] = None
    def check(stats: Seq[(Int, Long, Long)]): Unit = reference match {
      case None => reference = Some(stats.toSet)
      case Some(r) => require(stats.toSet == r, "tile/feature counts must match across modes")
    }

    modes.foreach {
      case "recompute" =>
        check(time("pyramid (per-zoom recompute) 6-12") {
          vps.tiling.TilePipeline.pyramid(points, minZ, maxZ).map { case (z, ds) =>
            val r = ds.toDF().agg(count(lit(1)), sum(col("features").cast("long"))).head()
            (z, r.getLong(0), r.getLong(1))
          }
        })
      case m @ ("rekey-mem" | "rekey-disk" | "rekey-none") =>
        val level = m match {
          case "rekey-mem" => StorageLevel.MEMORY_AND_DISK
          case "rekey-disk" => StorageLevel.DISK_ONLY
          case _ => StorageLevel.NONE
        }
        check(time(s"pyramidRekey($m) 6-12") {
          vps.tiling.TilePipeline.pyramidRekey(points, minZ, maxZ,
            persist = level)((_, _) => ())
        })
      case other => sys.error(s"unknown mode $other")
    }
    println("per-zoom (z, tiles, features): " + reference.get.toSeq.sortBy(-_._1).mkString(" "))
    spark.stop()
  }
}
