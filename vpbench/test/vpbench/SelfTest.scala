package vpbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's own tests (no Spark session):
  *
  *  - every generator is deterministic per seed and differs across seeds;
  *  - the metric names and units the benchmark can print are exactly those
  *    `BENCHMARK.json` declares, and undeclared names are refused;
  *  - the tail rule picks the highest percentile with at least ten samples
  *    beyond it.
  *
  * Run: `python3 vpbench/run.py --selftest` (exits non-zero on a failure).
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (r) passed += 1 else failures += name
    println(s"${if (r) "ok  " else "FAIL"} $name")
  }

  private def digests(seed: Long): Map[String, Long] = {
    val size = Gen.CorpusSize(features = 2000, clusters = 20, large = 2)
    val corpus = Gen.corpus(seed, size)
    val feed = new Gen.DiffFeed(seed, corpus)
    val batches = Seq(feed.next(large = true)) ++ (1 to 4).map(_ => feed.next())
    val joins = Gen.joinInputs(seed, Gen.JoinSize(points = 5000, lattice = 4, clusters = 5))
    val docs = Gen.docs(seed, Gen.DocsSize(base = 300, exactShare = 0.05, nearShare = 0.1, mega = 10))
    Map(
      "corpus" -> Gen.digest(corpus.geoms.iterator.map(_.toText)),
      "diff batches" -> Gen.digest(batches.iterator.zipWithIndex.flatMap { case (b, i) =>
        b.iterator.map(c => s"$i:$c") }),
      "join inputs" -> Gen.digest(joins.points.iterator ++ joins.polygons.iterator.map(_.toText)),
      "documents" -> Gen.digest(docs.texts.iterator ++ docs.planted.iterator ++ docs.megaClass.iterator))
  }

  private def generators(): Unit = {
    val a = digests(7)
    val again = digests(7)
    val b = digests(8)
    a.keys.toSeq.sorted.foreach { k =>
      check(s"generator '$k' is deterministic per seed")(a(k) == again(k))
      check(s"generator '$k' differs across seeds")(a(k) != b(k))
    }
  }

  private def declared(benchmarkJson: String): Unit = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(benchmarkJson))
    def list(key: String): Seq[(String, String)] =
      root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check("end-to-end metrics match BENCHMARK.json (names and units)")(
      list("end_to_end").toSet == Metrics.EndToEnd.toSet)
    check("per-layer metrics match BENCHMARK.json (names and units)")(
      list("per_layer").toSet == Metrics.PerLayer.toSet)
    check("workloads match BENCHMARK.json")(
      root.get("workloads").elements().asScala.map(_.get("name").asText).toSet == Main.Workloads.keySet)
    check("an undeclared metric name is refused")(
      try { new Metrics.Sink().put("not.declared", 1.0); false }
      catch { case _: IllegalArgumentException => true })
  }

  private def tailRule(): Unit = {
    def seq(n: Int) = (1 to n).map(_.toDouble)
    check("tail: 5 samples fall back to the median")(Stats.tail(seq(5)) == (50.0, 3.0))
    check("tail: 20 samples give p50 (10 beyond), not p75 (5 beyond)")(Stats.tail(seq(20)) == (50.0, 10.5))
    check("tail: 100 samples give p90")(Stats.tail(seq(100))._1 == 90.0)
    check("tail: 1000 samples give p99")(Stats.tail(seq(1000))._1 == 99.0)
    check("tail: 10000 samples give p99.9")(Stats.tail(seq(10000))._1 == 99.9)
    check("tail: ties leave nothing beyond, so the median is used")(
      Stats.tail(Seq.fill(200)(4.0)) == (50.0, 4.0))
    check("tail: the chosen value has at least 10 samples beyond it")(
      Seq(20, 37, 100, 250, 999).forall { n =>
        val s = seq(n).map(x => x * x)
        val (_, v) = Stats.tail(s)
        s.count(_ > v) >= 10
      })
  }

  def main(args: Array[String]): Unit = {
    generators()
    declared(args.headOption.getOrElse("BENCHMARK.json"))
    tailRule()
    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
