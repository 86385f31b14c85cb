package vpbench

import scala.collection.mutable
import org.locationtech.jts.geom.{Coordinate, Geometry, LinearRing, Polygon}

import vps.geom.Geo

/** Seeded input generators. Everything a workload feeds the library comes
  * from here: same seed, same inputs; the library sees only the results.
  */
object Gen {

  /** A lon/lat box (degrees), clear of the poles and the antimeridian. */
  final case class Box(lon0: Double, lat0: Double, lon1: Double, lat1: Double) {
    def clampLon(x: Double): Double = math.max(lon0, math.min(lon1, x))
    def clampLat(y: Double): Double = math.max(lat0, math.min(lat1, y))
    /** Uniform point at least `margin` (share of the box) inside it. */
    def uniform(r: scala.util.Random, margin: Double = 0.0): (Double, Double) =
      (lon0 + (margin + r.nextDouble() * (1 - 2 * margin)) * (lon1 - lon0),
        lat0 + (margin + r.nextDouble() * (1 - 2 * margin)) * (lat1 - lat0))
  }

  /** Continental box of the join workload. */
  val Wide = Box(-10.0, 36.0, 30.0, 60.0)
  /** Metropolitan box of the tile corpus: few tiles up to z12-z13, many
    * features per tile.
    */
  val Metro = Box(4.6, 52.1, 5.4, 52.6)

  /** Independent stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): scala.util.Random =
    new scala.util.Random(vps.text.TextOps.mix64(seed * 0x9e3779b97f4a7c15L ^ salt))

  /** Cluster centres with Zipf-skewed weights and per-cluster spread. */
  final case class Clusters(box: Box, cx: Array[Double], cy: Array[Double], sigma: Array[Double],
      cumWeight: Array[Double]) {
    def size: Int = cx.length
    def pick(r: scala.util.Random): Int = {
      val u = r.nextDouble() * cumWeight.last
      val i = java.util.Arrays.binarySearch(cumWeight, u)
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
    def sample(r: scala.util.Random, k: Int): (Double, Double) =
      (box.clampLon(cx(k) + r.nextGaussian() * sigma(k)), box.clampLat(cy(k) + r.nextGaussian() * sigma(k)))
  }

  def clusters(r: scala.util.Random, box: Box, n: Int, sigmaMin: Double, sigmaMax: Double,
      skew: Double): Clusters = {
    val centres = Array.fill(n)(box.uniform(r, 0.05))
    val sigma = Array.fill(n)(sigmaMin + r.nextDouble() * (sigmaMax - sigmaMin))
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, skew))
    Clusters(box, centres.map(_._1), centres.map(_._2), sigma, w.scanLeft(0.0)(_ + _).tail)
  }

  private def ring(cx: Double, cy: Double, radii: Array[Double], angles: Array[Double]): LinearRing = {
    val pts = radii.indices.map(i =>
      new Coordinate(cx + radii(i) * math.cos(angles(i)), cy + radii(i) * math.sin(angles(i))))
    Geo.factory.createLinearRing((pts :+ pts.head).toArray)
  }

  private def angles(r: scala.util.Random, n: Int): Array[Double] = {
    val step = 2 * math.Pi / n
    val phase = r.nextDouble() * step
    Array.tabulate(n)(i => phase + i * step + (r.nextDouble() - 0.5) * 0.6 * step)
  }

  /** Star polygon around (cx, cy): `n` vertices at radius r0 * [0.55, 1],
    * with a hole strictly inside the outer ring when `hole` (hole radii stay
    * below the outer ring's minimum chord distance, so the result is valid).
    */
  def star(r: scala.util.Random, cx: Double, cy: Double, r0: Double, n: Int, hole: Boolean): Polygon = {
    val outer = Array.fill(n)(r0 * (0.55 + 0.45 * r.nextDouble()))
    val shell = ring(cx, cy, outer, angles(r, n))
    val holes =
      if (!hole) Array.empty[LinearRing]
      else {
        val m = 6 + r.nextInt(7)
        val inner = Array.fill(m)(outer.min * (0.2 + 0.25 * r.nextDouble()))
        // holes wind clockwise
        Array(ring(cx, cy, inner.reverse, angles(r, m).reverse))
      }
    Geo.factory.createPolygon(shell, holes)
  }

  /** Random-walk linestring of `n` vertices from (x, y). */
  def walk(r: scala.util.Random, box: Box, x0: Double, y0: Double, n: Int, step: Double): Geometry = {
    var x = x0; var y = y0
    var heading = r.nextDouble() * 2 * math.Pi
    val pts = Array.tabulate(n) { _ =>
      val c = new Coordinate(x, y)
      heading += r.nextGaussian() * 0.5
      x = box.clampLon(x + step * math.cos(heading))
      y = box.clampLat(y + step * math.sin(heading))
      c
    }
    Geo.factory.createLineString(pts)
  }

  // ---------------------------------------------------------------- corpus

  /** Mixed feature corpus for the tile path: clustered points, random-walk
    * lines, star polygons (some with holes) and a few large polygons that
    * span many tiles. `cluster(i)` is feature i's cluster (-1 for the large
    * polygons).
    */
  final case class Corpus(geoms: Array[Geometry], cluster: Array[Int], clusters: Clusters) {
    def size: Int = geoms.length
  }

  /** `spread` is the range of cluster standard deviations (degrees). */
  final case class CorpusSize(features: Int, clusters: Int, large: Int,
      box: Box = Metro, spread: (Double, Double) = (0.005, 0.04))

  def corpus(seed: Long, size: CorpusSize): Corpus = {
    val r = rng(seed, 1)
    val cl = clusters(r, size.box, size.clusters, size.spread._1, size.spread._2, 0.8)
    val geoms = new Array[Geometry](size.features)
    val owner = new Array[Int](size.features)
    var i = 0
    while (i < size.features - size.large) {
      val k = cl.pick(r)
      owner(i) = k
      geoms(i) = feature(r, cl, k)
      i += 1
    }
    while (i < size.features) {
      owner(i) = -1
      val (x, y) = size.box.uniform(r, 0.15)
      geoms(i) = star(r, x, y, 0.03 + r.nextDouble() * 0.06, 120 + r.nextInt(180), r.nextBoolean())
      i += 1
    }
    Corpus(geoms, owner, cl)
  }

  /** One clustered feature: 55% points, 27% lines, 18% polygons. */
  def feature(r: scala.util.Random, cl: Clusters, k: Int): Geometry = {
    val (x, y) = cl.sample(r, k)
    val u = r.nextDouble()
    if (u < 0.55) Geo.point(x, y)
    else if (u < 0.82) walk(r, cl.box, x, y, 6 + r.nextInt(55), 0.0002 + r.nextDouble() * 0.0013)
    else star(r, x, y, 0.0005 + r.nextDouble() * 0.004, 8 + r.nextInt(33), r.nextDouble() < 0.3)
  }

  // ---------------------------------------------------------------- diffs

  /** One augmented-diff row: `prevWkt` is None for a create; a delete keeps
    * its last geometry in both columns and `visible = false`.
    */
  final case class Change(id: Long, prevWkt: Option[String], wkt: String, visible: Boolean)

  /** Closed-loop diff feed over a corpus snapshot. Batch `b` depends only on
    * the seed and the batches before it. Changes concentrate on a few hot
    * clusters; `next(large = true)` yields a backfill-sized batch spread
    * over the whole corpus.
    */
  final class DiffFeed(seed: Long, base: Corpus) {
    private val r = rng(seed, 2)
    private val live = mutable.LongMap.empty[Geometry]
    base.geoms.indices.foreach(i => live(i.toLong) = base.geoms(i))
    private val byCluster = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    base.cluster.indices.foreach(i =>
      byCluster.getOrElseUpdate(base.cluster(i), mutable.ArrayBuffer.empty) += i.toLong)
    /** Three hot clusters of middling spread among those with at least 40
      * features, so every seed's batches dirty a similar number of tiles.
      */
    private val hot = {
      val ks = byCluster.keys.filter(k => k >= 0 && byCluster(k).size >= 40).toArray
        .sortBy(k => base.clusters.sigma(k))
      val mid = ks.slice(ks.length / 3, 2 * ks.length / 3)
      Array.fill(3)(mid(r.nextInt(mid.length)))
    }
    private var nextId = base.size.toLong

    /** Current geometry of every live feature (the snapshot after all
      * batches handed out so far).
      */
    def snapshot: collection.Map[Long, Geometry] = live

    def next(large: Boolean = false): Seq[Change] = {
      val n = if (large) 80 else 24
      val out = mutable.ArrayBuffer.empty[Change]
      val touched = mutable.Set.empty[Long]
      while (out.length < n) {
        val k = if (large) base.cluster(r.nextInt(base.size)) else hot(r.nextInt(hot.length))
        val kk = if (k < 0) hot(0) else k
        val u = r.nextDouble()
        if (u < 0.15) {
          val id = nextId; nextId += 1
          val g = feature(r, base.clusters, kk)
          live(id) = g
          byCluster(kk) += id
          touched += id
          out += Change(id, None, vps.geom.Wkt.write(g), visible = true)
        } else {
          val ids = byCluster(kk)
          val id = ids(r.nextInt(ids.length))
          if (live.contains(id) && !touched(id)) {
            touched += id
            val prev = live(id)
            val pw = vps.geom.Wkt.write(prev)
            if (u < 0.30) {
              live -= id
              out += Change(id, Some(pw), pw, visible = false)
            } else {
              val g = if (u < 0.75) move(r, prev) else edit(r, prev)
              live(id) = g
              out += Change(id, Some(pw), vps.geom.Wkt.write(g), visible = true)
            }
          }
        }
      }
      out.toSeq
    }
  }

  private def move(r: scala.util.Random, g: Geometry): Geometry = {
    val dx = r.nextGaussian() * 0.01
    val dy = r.nextGaussian() * 0.01
    val t = org.locationtech.jts.geom.util.AffineTransformation.translationInstance(dx, dy)
    t.transform(g)
  }

  /** Scales the geometry about its centroid by up to 5% either way. */
  private def edit(r: scala.util.Random, g: Geometry): Geometry = {
    val scale = 1.0 + (r.nextDouble() - 0.5) * 0.1
    val c = g.getCentroid.getCoordinate
    val t = org.locationtech.jts.geom.util.AffineTransformation
      .scaleInstance(scale, scale, c.x, c.y)
    t.transform(g)
  }

  // ---------------------------------------------------------------- joins

  final case class JoinInputs(points: Array[(Long, Double, Double)], polygons: Array[Polygon])

  final case class JoinSize(points: Int, lattice: Int, clusters: Int)

  /** Non-rectangular polygons on a jittered lattice (neighbours overlap,
    * 40% have holes) and clustered, skewed points, a share of them outside
    * every polygon.
    */
  def joinInputs(seed: Long, size: JoinSize): JoinInputs = {
    val r = rng(seed, 3)
    val (x0, x1, y0, y1) = (Wide.lon0 + 2, Wide.lon1 - 2, Wide.lat0 + 2, Wide.lat1 - 2)
    val dx = (x1 - x0) / size.lattice
    val dy = (y1 - y0) / size.lattice
    val polys = for { i <- 0 until size.lattice; j <- 0 until size.lattice } yield {
      val cx = x0 + (i + 0.5 + (r.nextDouble() - 0.5) * 0.3) * dx
      val cy = y0 + (j + 0.5 + (r.nextDouble() - 0.5) * 0.3) * dy
      star(r, cx, cy, math.min(dx, dy) * (0.5 + 0.3 * r.nextDouble()), 12 + r.nextInt(37),
        r.nextDouble() < 0.4)
    }
    val cl = clusters(r, Wide, size.clusters, 0.1, 0.6, 1.0)
    val pts = Array.tabulate(size.points) { i =>
      val (x, y) =
        if (r.nextDouble() < 0.9) cl.sample(r, cl.pick(r))
        else Wide.uniform(r)
      (i.toLong, x, y)
    }
    JoinInputs(pts, polys.toArray)
  }

  // ---------------------------------------------------------------- documents

  final case class Docs(
      texts: Array[(Long, String)],
      /** (copy id, original id) for every planted exact or near copy */
      planted: Array[(Long, Long)],
      /** ids of the planted class larger than the bucket cap */
      megaClass: Array[Long])

  final case class DocsSize(base: Int, exactShare: Double, nearShare: Double, mega: Int)

  /** Zipf-worded documents over a seeded vocabulary, plus exact copies,
    * near copies (1-3 word edits) and one mega duplicate class of `mega`
    * identical texts.
    */
  def docs(seed: Long, size: DocsSize): Docs = {
    val r = rng(seed, 4)
    val vocab = Array.fill(8000)(Array.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString)
    val cum = Array.tabulate(vocab.length)(k => 1.0 / math.pow(k + 1, 1.05)).scanLeft(0.0)(_ + _).tail
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble() * cum.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    val texts = mutable.ArrayBuffer.empty[(Long, String)]
    val words = Array.fill(size.base)(Array.fill(80 + r.nextInt(160))(word()))
    words.indices.foreach(i => texts += ((i.toLong, words(i).mkString(" "))))
    var id = size.base.toLong
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until (size.base * size.exactShare).toInt).foreach { _ =>
      val o = r.nextInt(size.base)
      texts += ((id, texts(o)._2)); planted += ((id, o.toLong)); id += 1
    }
    (0 until (size.base * size.nearShare).toInt).foreach { _ =>
      val o = r.nextInt(size.base)
      val w = words(o).clone()
      (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = word())
      texts += ((id, w.mkString(" "))); planted += ((id, o.toLong)); id += 1
    }
    val megaText = Array.fill(120)(word()).mkString(" ")
    val mega = (0 until size.mega).map { _ =>
      texts += ((id, megaText)); id += 1; id - 1
    }
    Docs(texts.toArray, planted.toArray, mega.toArray)
  }

  /** Order-insensitive digest of any generated rows, for determinism tests. */
  def digest(rows: Iterator[Any]): Long = {
    var h = 0L
    rows.foreach { x =>
      h += vps.text.TextOps.mix64(x.toString.hashCode.toLong ^ (x.toString.length.toLong << 32))
    }
    h
  }
}
