package vpbench

import org.locationtech.jts.geom.Geometry

import vps.geom.{TileMath, Wkb}
import vps.kernels.{Clip, Simplify}
import vps.mvt.{Mvt, TileBuilder}

/** Single-thread kernel costs outside Spark, over a seeded sample shared by
  * every workload: the corpus generator's features and the document
  * generator's texts (same seed, small sizes).
  */
object Kernels {
  val SampleFeatures = 3000
  val SampleDocs = 400
  val Zoom = 12
  val Reps = 5

  /** Median over [[Reps]] passes of microseconds per call of `f` over `n`
    * inputs; each pass repeats until it has run at least 50 ms.
    */
  def usPerOp(n: Int)(f: Int => Any): Double = {
    var sink = 0
    val passes = (1 to Reps).map { _ =>
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 50000000L) {
        var i = 0
        while (i < n) { if (f(i) != null) sink += 1; i += 1 }
        calls += n
      }
      (System.nanoTime() - t0) / 1e3 / calls
    }
    if (sink == 42) println("") // keeps the results observable to the JIT
    Stats.median(passes)
  }

  def measure(seed: Long, m: Metrics.Sink): Unit = {
    val corpus = Gen.corpus(seed, Gen.CorpusSize(SampleFeatures, 20, 2))
    val geoms: Array[Geometry] = corpus.geoms
    // one (feature, tile) pair per feature: the tile holding its first vertex
    val tiles = geoms.map { g =>
      val c = g.getCoordinates.head
      (TileMath.tileX(c.x, Zoom), TileMath.tileY(c.y, Zoom))
    }
    val envs = tiles.map { case (x, y) => TileMath.tileEnvelopeLatLng(Zoom, x, y) }
    val tol = Simplify.toleranceForZoom(Zoom)
    val local = geoms.indices.map { i =>
      val (x, y) = tiles(i)
      TileBuilder.lonLatToTile(Zoom, x, y).transform(Clip(geoms(i), envs(i)))
    }.toArray
    val wkbs = geoms.map(Wkb.write)
    val docs = Gen.docs(seed, Gen.DocsSize(SampleDocs, 0, 0, 0)).texts.map(_._2)

    m.put("kernels.clip_us_per_op", usPerOp(geoms.length)(i => Clip(geoms(i), envs(i))))
    m.put("kernels.simplify_us_per_op", usPerOp(geoms.length)(i => Simplify.douglasPeucker(geoms(i), tol)))
    m.put("mvt.encode_geometry_us_per_op", usPerOp(local.length)(i => Mvt.encodeGeometryPacked(local(i))))
    m.put("geom.wkb_read_us_per_op", usPerOp(wkbs.length)(i => Wkb.read(wkbs(i))))
    m.put("text.minhash_us_per_doc", usPerOp(docs.length)(i => vps.text.TextOps.minhash(docs(i), 64, 5)))
  }
}
