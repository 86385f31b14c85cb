package vps.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import vps.tiling.{TilePipeline, TileSink}

/** End-to-end streaming tiling: the interleaved-docs micro-batch stream ->
  * span extraction -> tile aggregation -> MVT bytes -> lineage-committed
  * file sink, one tile tree per micro-batch (`<out>/batch-<id>/z/x/y.mvt`).
  *
  * Exactly-once story: offsets ride the engine checkpoint; a replayed batch
  * rewrites its own directory idempotently (tile bytes are deterministic and
  * TileSink skips lineage-committed partitions).
  */
object StreamingTiles {

  /** Geo points from a streaming (or batch) interleaved-docs frame. */
  def extractPoints(docs: DataFrame): DataFrame = {
    import vps.sql.functions.st_geomFromWKT
    docs
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .where(col("span.kind") === "geo")
      .select(
        // numeric id for deterministic feature ordering inside tiles
        (substring(col("doc_id"), 4, 18).cast("long") * 10 + col("span.offset")).as("id"),
        st_geomFromWKT(col("span.text")).as("geom"))
  }

  def start(
      spark: SparkSession,
      outDir: String,
      checkpointDir: String,
      zoom: Int,
      sourceOptions: Map[String, String] = Map.empty,
      tileOptions: TilePipeline.Options = TilePipeline.Options()): StreamingQuery = {
    vps.geom.Geo.registerUDTs()
    val stream = sourceOptions.foldLeft(spark.readStream.format("interleaved-docs")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tiles = TilePipeline.tileZoom(extractPoints(batch), zoom, tileOptions)
        TileSink.write(tiles, s"$outDir/batch-$batchId")
        ()
      }
      .start()
  }
}
