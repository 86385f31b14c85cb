package vps.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import vps.geom._

/** Tiny end-to-end driver: exercises the geometry layer through a real Spark
  * session (UDT through Tungsten rows, tile/cell math inside executor tasks).
  * Run: sbt "runMain vps.tools.Demo"
  */
object Demo {
  case class Doc(id: Long, geom: Geometry)

  def main(args: Array[String]): Unit = {
    Geo.registerUDTs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("vps-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 22) // object-hash aggs (grid_burn, collect_capped, keep_smallest) stay hash-based
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // geometry column through a typed Dataset (UDT serialize/deserialize)
    val docs = spark.range(0, 1000).map { i =>
      val lon = (i * 9973 % 3600) / 10.0 - 180.0
      val lat = (i * 6151 % 1600) / 10.0 - 80.0
      Doc(i, Geo.point(lon, lat))
    }
    docs.createOrReplaceTempView("docs")

    // tile + cell assignment inside executors; shuffle groupBy on cell
    val keyed = docs.map { d =>
      val c = d.geom.getCoordinate
      (d.id, TileMath.tileX(c.x, 8), TileMath.tileY(c.y, 8), CellId.fromLonLat(c.x, c.y, 12))
    }.toDF("id", "tx", "ty", "cell")

    val agg = keyed.groupBy($"cell").agg(count("*").as("n")).orderBy(desc("n")).limit(5)
    println("top cells:")
    agg.show(false)
    val total = keyed.count()
    val distinctTiles = keyed.select($"tx", $"ty").distinct().count()
    println(s"rows=$total distinctTiles=$distinctTiles")

    // UDT survives a shuffle + filter round trip
    val survived = docs.repartition(4, $"id").filter(d => d.geom != null && !d.geom.isEmpty).count()
    println(s"geomSurvived=$survived")

    // MVT: encode tiles from grouped points inside executors, decode on driver
    import vps.mvt._
    val tiles = keyed
      .groupBy($"tx", $"ty")
      .agg(collect_list($"id").as("ids"))
      .as[(Int, Int, Seq[Long])]
      .map { case (tx, ty, ids) =>
        val feats = ids.map(i => MvtFeature(Some(i), Geo.point((i % 4096).toDouble, (i % 4096).toDouble),
          Seq("id" -> MvtValue.I64(i))))
        (tx, ty, Mvt.encode(MvtTile(Seq(TileBuilder.buildLayer("docs", feats)))))
      }
    val encoded = tiles.collect()
    val decodedFeatures = encoded.map { case (_, _, b) => Mvt.decode(b).layers.head.features.size }.sum
    println(s"tiles=${encoded.length} mvtFeatures=$decodedFeatures bytes=${encoded.map(_._3.length).sum}")

    // the driver's flagship smoke check
    val entryRows = graft.SparkEntry.entry(spark)
    entryRows.show(3, false)
    println(s"entryRows=${entryRows.count()}")
    spark.stop()
  }
}
