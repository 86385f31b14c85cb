package vpbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import vps.tiling.{TilePipeline, TileSink}

/** The flagship path: a mixed corpus through the re-keyed pyramid, every
  * zoom written by the tile sink. One step = one full pyramid; its items are
  * the tiles written. Runs as a [[Guest]] of traced `retile_diffs` runs.
  */
final class PyramidMixed extends Workload {
  val Size = Gen.CorpusSize(features = 8000, clusters = 200, large = 6)
  val MinZoom = 11
  val MaxZoom = 12

  private var corpus: Gen.Corpus = _
  private var features: DataFrame = _
  private var counts: Seq[(Int, Long, Long)] = Nil
  private var lastDir: File = _
  private val stepCounts = mutable.ArrayBuffer.empty[Seq[(Int, Long, Long)]]
  private var digestLine = ""
  private var divergence = "not checked (traced runs only)"
  private val stepDigests = mutable.ArrayBuffer.empty[Long]

  def generate(seed: Long): Unit = corpus = Gen.corpus(seed, Size)

  def setup(ctx: Ctx): Unit = {
    features = TileLayers.load(ctx.spark, corpus.geoms.indices.iterator.map(i => i.toLong -> corpus.geoms(i)))
  }

  def release(): Unit = if (features != null) features.unpersist(blocking = true)

  def step(ctx: Ctx, i: Int): Step = {
    val dir = new File(ctx.dir("pyramid"), s"step-$i")
    val t = ctx.tracer
    var written = 0L
    val op = ctx.op("tiling.pyramid") {
      counts = TilePipeline.pyramidRekey(features, MinZoom, MaxZoom) { (z, tiles) =>
        // traced steps materialize the (cached) tiles first, so the sink
        // span holds only the write
        if (t.enabled) t.span("tiling.pack_encode") { tiles.count() }
        val lineage = t.span("tiling.sink") {
          val l = TileSink.write(tiles, dir.getAbsolutePath)
          t.count("files", l.map(_.tiles).sum.toDouble)
          l
        }
        written += lineage.map(_.tiles).sum
      }
      counts.map(_._2).sum == written && counts.forall(_._2 > 0)
    }
    if (lastDir != null) TileLayers.deleteTree(lastDir)
    lastDir = dir
    if (op.ok) {
      stepCounts += counts
      stepDigests += TileLayers.digest(TileLayers.readTree(dir).iterator)
    }
    Step(Seq(op), written.toDouble)
  }

  def check(ctx: Ctx): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    if (stepCounts.distinct.size != 1)
      failures += s"per-zoom (tiles, features) differ across steps: ${stepCounts.distinct.mkString(" | ")}"
    val tree = TileLayers.readTree(lastDir)
    val fileCounts = tree.keys.groupBy(_._1).map { case (z, ks) => z -> ks.size.toLong }
    val fileFeatures = tree.toSeq.groupBy(_._1._1).map { case (z, ts) =>
      z -> ts.map(t => vps.mvt.Mvt.decode(t._2).layers.map(_.features.size.toLong).sum).sum
    }
    // the pyramid counts degenerate fragments the encoder leaves out, so the
    // decoded features may fall short of its count but never exceed it
    counts.foreach { case (z, n, f) =>
      if (fileCounts.getOrElse(z, 0L) != n || fileFeatures.getOrElse(z, 0L) > f ||
          fileFeatures.getOrElse(z, 0L) == 0)
        failures += s"z$z: sink wrote ${fileCounts.getOrElse(z, 0L)} tiles holding " +
          s"${fileFeatures.getOrElse(z, 0L)} features, the pyramid counted $n tiles, $f features"
    }
    // stable across steps: every step wrote the same tiles
    val sinkDigest = TileLayers.digest(tree.iterator)
    if (stepDigests.distinct.size > 1)
      failures += s"tile digests differ across steps: ${stepDigests.distinct.mkString(" ")}"
    // reported by traced runs, not gated: per-zoom tileZoom (no re-key)
    // should render the same bytes; the divergence is printed so it stays
    // visible
    if (ctx.traced) {
      val (directTiles, directDigest) = (MinZoom to MaxZoom)
        .map(z => TileLayers.digestOf(TilePipeline.tileZoom(features, z)))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      divergence = if (directTiles == tree.size && directDigest == sinkDigest) "none"
        else s"tileZoom renders $directTiles tiles with digest $directDigest, the re-keyed pyramid " +
          s"${tree.size} tiles with digest $sinkDigest"
    }
    digestLine = f"pyramid digest $sinkDigest%016x over ${tree.size} tiles; per zoom (z, tiles, features): " +
      counts.sortBy(_._1).mkString(" ")
    failures.toSeq
  }

  def layers(ctx: Ctx, m: Metrics.Sink): Unit = {
    var parent: Option[DataFrame] = None
    (MaxZoom to MinZoom by -1).foreach { z =>
      val k = TileLayers.probe(ctx, features, z, parent)
      parent.foreach(_.unpersist())
      parent = Some(k)
    }
    parent.foreach(_.unpersist())
    TileLayers.foldTileLayers(ctx, m, ctx.tracer.named("tiling.pack_encode"))
    TileLayers.foldTrace(ctx, m)
  }

  override def describe: Seq[String] = Seq(
    s"inputs: ${corpus.size} features (${Size.clusters} clusters, ${Size.large} large polygons), zooms $MinZoom-$MaxZoom",
    digestLine,
    s"re-keyed pyramid vs per-zoom tileZoom divergence: $divergence")
}
