package vpbench

import scala.collection.mutable

/** Every metric the benchmark may print, by name and unit. `BENCHMARK.json`
  * declares the same two lists (checked by [[SelfTest]]); a run that tries to
  * report an undeclared name fails instead of printing it.
  */
object Metrics {

  /** Untraced runs: one value per metric on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Traced runs: every layer metric on every workload; a layer the workload
    * never calls reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    // tile path (the pyramid guest of traced retile_diffs runs)
    "geom.tile_keys_s" -> "s",
    "geom.keys_per_feature" -> "ratio",
    "kernels.simplify_s" -> "s",
    "kernels.simplify_vertex_ratio" -> "ratio",
    "sql.tile_fragments_s" -> "s",
    "sql.fragments_per_pair" -> "ratio",
    "tiling.pack_encode_s" -> "s",
    "tiling.shuffle_bytes" -> "bytes",
    "tiling.spill_bytes" -> "bytes",
    "tiling.task_skew" -> "ratio",
    "tiling.sink_s" -> "s",
    "tiling.sink_files" -> "count",
    // incremental refresh (retile_diffs)
    "streaming.dirty_tiles_s" -> "s",
    "streaming.dirty_tiles_per_batch" -> "count",
    "tiling.subset_render_s" -> "s",
    "tiling.subset_feature_ratio" -> "ratio",
    // joins and raster (pip_join only)
    "joins.cells_per_polygon" -> "ratio",
    "joins.candidate_pairs" -> "count",
    "joins.refine_hit_ratio" -> "ratio",
    "joins.cell_s" -> "s",
    "joins.cell_shuffle_bytes" -> "bytes",
    "joins.cell_task_skew" -> "ratio",
    "joins.broadcast_s" -> "s",
    "joins.geocode_s" -> "s",
    "raster.rasterize_s" -> "s",
    "raster.zonal_s" -> "s",
    // near-duplicate detection (the dedup guest of traced pip_join runs)
    "text.shingle_s" -> "s",
    "text.minhash_s" -> "s",
    "ml.candidates_s" -> "s",
    "ml.candidate_pairs" -> "count",
    "ml.buckets_dropped" -> "count",
    "ml.cc_s" -> "s",
    "ml.cc_rounds" -> "count",
    "ml.shuffle_bytes" -> "bytes",
    "ml.spill_bytes" -> "bytes",
    // single-thread kernels outside Spark (every workload, shared sample)
    "kernels.clip_us_per_op" -> "us",
    "kernels.simplify_us_per_op" -> "us",
    "mvt.encode_geometry_us_per_op" -> "us",
    "geom.wkb_read_us_per_op" -> "us",
    "text.minhash_us_per_doc" -> "us",
    // the traced run itself
    "trace.overhead_s" -> "s",
    "trace.executor_cpu_s" -> "s",
    "trace.gc_s" -> "s",
    "trace.peak_exec_memory_bytes" -> "bytes")

  private val units: Map[String, String] = (EndToEnd ++ PerLayer).toMap

  /** Named values collected during a run; rejects undeclared names. */
  final class Sink {
    private val values = mutable.LinkedHashMap.empty[String, Double]
    def put(name: String, value: Double): Unit = {
      require(units.contains(name), s"metric '$name' is not declared")
      values(name) = value
    }
    def get(name: String): Double = values.getOrElse(name, 0.0)

    /** The declared set `names` in declaration order, 0 where unset. */
    def render(names: Seq[(String, String)]): Seq[(String, Double, String)] =
      names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
