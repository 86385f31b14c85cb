package vpbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.Geometry

import vps.streaming.DirtyTiles
import vps.tiling.{TilePipeline, TileSink}

/** Incremental tile maintenance: a closed loop of seeded diff batches, each
  * handed to `DirtyTiles.refreshTiles` at one zoom and written by the tile
  * sink. One step = one batch, timed from hand-off until its tiles are
  * written; its items are the diff rows it carried. The first warm-up batch is
  * backfill-sized (more dirty tiles than [[MaxDriverKeys]]), so both
  * refresh branches run and are checked; the timed loop holds only
  * replication-sized batches.
  */
final class RetileDiffs extends Workload {
  val Size = Gen.CorpusSize(features = 8000, clusters = 200, large = 6)
  val Zoom = 13
  val MaxDriverKeys = 48
  /** The first warm-up step. */
  val BackfillStep = -1
  /** Batches between compactions of the snapshot frame (outside timing). */
  val CompactEvery = 16
  /** About 25 s on the reference host (4 vCPUs, 2 task threads). */
  override def warmupSteps: Int = 20

  val DiffSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("prev_geom_wkt", StringType, nullable = true),
    StructField("geom_wkt", StringType, nullable = false),
    StructField("visible", BooleanType, nullable = false)))

  private var corpus: Gen.Corpus = _
  private var feed: Gen.DiffFeed = _
  private var base: DataFrame = _
  /** Changes since the last compaction: id -> current geometry (None = deleted). */
  private val overlay = mutable.LongMap.empty[Option[Geometry]]
  private var batches = 0
  private var snapshot: DataFrame = _
  private var lastDiffs: DataFrame = _
  private var lastDir: File = _
  private var lastDirty: Set[(Int, Int)] = Set.empty
  private val failures = mutable.ArrayBuffer.empty[String]
  private var backfillDirty: Option[Int] = None
  private var backfillMs = 0.0
  /** The pyramid over the same corpus, measured layer by layer in traced runs. */
  private val pyramid = new Guest(new PyramidMixed)

  def generate(seed: Long): Unit = {
    corpus = Gen.corpus(seed, Size)
    feed = new Gen.DiffFeed(seed, corpus)
  }

  def setup(ctx: Ctx): Unit = {
    base = TileLayers.load(ctx.spark, corpus.geoms.indices.iterator.map(i => i.toLong -> corpus.geoms(i)))
    snapshot = base
  }

  def release(): Unit = if (base != null) base.unpersist(blocking = true)

  /** Base minus overlaid ids, plus the overlay's live features. */
  private def currentSnapshot(ctx: Ctx): DataFrame =
    if (overlay.isEmpty) base
    else {
      val live = TileLayers.local(ctx.spark, overlay.iterator.collect { case (i, Some(g)) => i -> g }.toSeq)
      base.where(!col("id").isin(overlay.keys.toSeq: _*)).unionByName(live)
    }

  private def compact(ctx: Ctx): Unit = {
    val old = base
    base = TileLayers.load(ctx.spark, feed.snapshot.iterator)
    old.unpersist(blocking = true)
    overlay.clear()
  }

  def step(ctx: Ctx, i: Int): Step = {
    if (batches > 0 && batches % CompactEvery == 0) compact(ctx)
    val changes = feed.next(large = i == BackfillStep)
    batches += 1
    changes.foreach(c => overlay(c.id) = feed.snapshot.get(c.id))
    snapshot = currentSnapshot(ctx)
    val diffs = ctx.spark.createDataFrame(changes.map(c =>
      Row(c.id, c.prevWkt.orNull, c.wkt, c.visible)).asJava, DiffSchema)
    val dir = new File(ctx.dir("retile"), s"batch-$i")
    val t = ctx.tracer
    val op = ctx.op("streaming.batch") {
      val tiles = t.span("tiling.subset_render") {
        val r = DirtyTiles.refreshTiles(snapshot, diffs, Zoom, maxDriverKeys = MaxDriverKeys)
        if (t.enabled) {
          r.persist(StorageLevel.MEMORY_ONLY)
          val s = r.agg(count(lit(1)), sum(col("features").cast("long"))).head()
          t.count("tiles", s.getLong(0).toDouble)
          t.count("features", if (s.isNullAt(1)) 0 else s.getLong(1).toDouble)
        }
        r
      }
      t.span("streaming.sink") { TileSink.write(tiles, dir.getAbsolutePath) }
      tiles.unpersist()
      true
    }
    if (lastDir != null) TileLayers.deleteTree(lastDir)
    lastDir = dir
    lastDiffs = diffs
    // the backfill batch is checked as soon as it is written (never timed):
    // it is the only one on the distributed branch
    if (i == BackfillStep && op.ok) {
      failures ++= verify(ctx, dir)
      backfillDirty = Some(lastDirty.size)
      backfillMs = op.ns / 1e6
    }
    Step(Seq(op), changes.size.toDouble)
  }

  /** Dirty keys of the last batch, from the diff rows alone (the library's
    * own `fromDiffs` is what is under test, so it is not used here).
    */
  private def dirtyKeys(diffs: DataFrame): Set[(Int, Int)] =
    diffs.collect().flatMap { r =>
      (Option(r.getString(1)).toSeq :+ r.getString(2)).flatMap(w =>
        vps.geom.TileMath.keysForGeometry(vps.geom.Wkt.read(w), Zoom))
    }.toSet

  /** The refreshed tiles on disk must equal a full `tileZoom` of the current
    * snapshot restricted to the batch's dirty keys, byte for byte.
    */
  private def verify(ctx: Ctx, dir: File): Seq[String] = {
    val dirty = dirtyKeys(lastDiffs)
    lastDirty = dirty
    val full = TilePipeline.tileZoom(snapshot, Zoom)
      .filter((t: vps.tiling.TileRow) => dirty((t.x, t.y))).collect()
      .map(t => (t.zoom, t.x, t.y) -> t.mvt)
    val written = TileLayers.readTree(dir)
    val a = TileLayers.digest(written.iterator)
    val b = TileLayers.digest(full.iterator)
    if (written.size != full.length || a != b)
      Seq(s"batch ${dir.getName}: refreshed ${written.size} tiles (digest $a) != " +
        s"tileZoom restricted to ${dirty.size} dirty keys ${full.length} tiles (digest $b)")
    else Nil
  }

  def check(ctx: Ctx): Seq[String] = {
    failures ++= verify(ctx, lastDir)
    failures ++= pyramid.check(ctx)
    if (backfillDirty.forall(_ <= MaxDriverKeys))
      failures += s"backfill batch dirtied ${backfillDirty.getOrElse(0)} tiles, not above the cap $MaxDriverKeys"
    failures.toSeq
  }

  def layers(ctx: Ctx, m: Metrics.Sink): Unit = {
    val t = ctx.tracer
    // the last batch again, layer by layer
    val dirty = t.span("streaming.dirty_tiles") {
      val n = DirtyTiles.fromDiffs(lastDiffs, Zoom).count()
      t.count("dirty", n.toDouble)
      n
    }
    val render = t.named("tiling.subset_render")
    m.put("streaming.dirty_tiles_s", t.named("streaming.dirty_tiles").map(_.seconds).sum)
    m.put("streaming.dirty_tiles_per_batch", dirty.toDouble)
    m.put("tiling.subset_render_s", render.map(_.seconds).sum)
    m.put("tiling.subset_feature_ratio",
      render.map(_.counts.getOrElse("features", 0.0)).sum / math.max(1L, snapshot.count()).toDouble)
    TileLayers.foldTrace(ctx, m)
    pyramid.layers(ctx, m)
  }

  override def describe: Seq[String] = Seq(
    s"inputs: ${corpus.size} snapshot features, $batches diff batches at z$Zoom " +
      s"(maxDriverKeys $MaxDriverKeys, compaction every $CompactEvery)",
    f"backfill batch (warm-up): ${backfillDirty.getOrElse(0)} dirty tiles in $backfillMs%.1f ms; " +
      s"last batch: ${lastDirty.size} dirty tiles") ++ pyramid.describe
}
