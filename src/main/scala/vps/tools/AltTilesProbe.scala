package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tightened N vs 4N tiling protocol: legs ALTERNATE local[4]/local[16]
  * round-robin inside one JVM (JIT shared, host drift cancels within a
  * round), reading a pre-materialized corpus from tmpfs parquet so every leg
  * scans identical input. Reports per-round efficiency and the median.
  *
  * Usage: runMain vps.tools.AltTilesProbe [replication] [rounds]
  */
object AltTilesProbe {
  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(10000)
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val corpus = s"$base/vps_alt_corpus_$rep"

    def session(cpus: Int): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus * 2)
        .config("spark.local.dir", s"$base/spark-alt-local")
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22)
        .config("spark.ui.enabled", "false").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // materialize the corpus once (parallel synthesis), identical for all legs
    if (!new java.io.File(s"$corpus/_SUCCESS").exists) {
      val s = session(16)
      vps.docs.InterleavedDocs.extractGeoSpans(
        vps.docs.InterleavedDocs.fromDocuments(s, "/root/testdata/sf0.1", rep))
        .select((col("id") * 10 + col("span_offset")).as("id"), col("geom"))
        .write.mode("overwrite").parquet(corpus)
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }

    def leg(cpus: Int): Double = {
      val s = session(cpus)
      vps.geom.Geo.registerUDTs()
      val points = s.read.parquet(corpus).persist()
      points.count()
      def run(): Double = {
        val t0 = System.nanoTime()
        vps.tiling.TilePipeline.tileZoom(points, 8).toDF().agg(count(lit(1))).head()
        (System.nanoTime() - t0) / 1e9
      }
      val t = run()
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      t
    }

    // JIT warm-up round (not scored)
    leg(4); leg(16)
    val effs = (1 to rounds).map { r =>
      val lo = leg(4)
      val hi = leg(16)
      val eff = lo / hi / 4.0
      println(f"round $r: local[4]=$lo%.1f s local[16]=$hi%.1f s  efficiency=$eff%.2f")
      (lo, hi, eff)
    }
    val los = effs.map(_._1).sorted; val his = effs.map(_._2).sorted
    val es = effs.map(_._3).sorted
    println(f"rep=$rep rounds=$rounds: " +
      f"local[4] best=${los.head}%.1f median=${los(los.length / 2)}%.1f | " +
      f"local[16] best=${his.head}%.1f median=${his(his.length / 2)}%.1f | " +
      f"efficiency median=${es(es.length / 2)}%.2f best-pair=${los.head / his.head / 4}%.2f")
  }
}
