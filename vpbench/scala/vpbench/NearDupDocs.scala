package vpbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import vps.geom.{ErrorChannel, GeomErrors}
import vps.ml.{Components, Dedup}
import vps.text.functions._

/** Near-duplicate document groups: MinHash-LSH candidates resolved by
  * connected components over a corpus with planted exact copies, edited
  * near copies and one duplicate class larger than the bucket cap. One step
  * = one membership computation; its items are the documents. Runs as a
  * [[Guest]] of traced `pip_join` runs.
  */
final class NearDupDocs extends Workload {
  val Size = Gen.DocsSize(base = 2500, exactShare = 0.05, nearShare = 0.10, mega = 100)
  val MaxBucket = 64

  private var docs: Gen.Docs = _
  private var frame: DataFrame = _
  private var channel: ErrorChannel = _
  private var membership: Map[Long, Long] = Map.empty
  private var dropped = 0L
  private var summary = ""

  def generate(seed: Long): Unit = docs = Gen.docs(seed, Size)

  def setup(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    frame = ctx.spark.sparkContext.parallelize(docs.texts.toSeq, ctx.cpus * 2).toDF("id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    frame.count()
    if (channel == null) channel = GeomErrors.channel(ctx.spark, "vpbench.dropped")
  }

  def release(): Unit = if (frame != null) frame.unpersist(blocking = true)

  def step(ctx: Ctx, i: Int): Step = {
    channel.reset()
    var groups = Array.empty[(Long, Long)]
    val op = ctx.op("ml.near_duplicates") {
      import ctx.spark.implicits._
      val (m, ch) = Dedup.nearDuplicateMembershipWithStats(frame, maxBucket = MaxBucket,
        droppedBuckets = Some(channel))
      groups = m.as[(Long, Long)].collect()
      dropped = ch.count
      groups.nonEmpty && dropped > 0
    }
    if (op.ok) membership = groups.toMap
    Step(Seq(op), docs.texts.length.toDouble)
  }

  def check(ctx: Ctx): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    val lost = docs.planted.filter { case (copy, orig) =>
      val a = membership.get(copy)
      a.isEmpty || a != membership.get(orig)
    }
    if (lost.nonEmpty)
      failures += s"${lost.length} of ${docs.planted.length} planted copies are not in their original's group, " +
        s"e.g. ${lost.take(3).mkString(" ")}"
    // the mega class exceeds the bucket cap: its buckets must be dropped and counted
    if (dropped == 0) failures += "the duplicate class above maxBucket dropped no buckets"
    summary = s"groups ${membership.values.toSet.size} over ${membership.size} docs; " +
      s"planted ${docs.planted.length}; buckets dropped $dropped"
    failures.toSeq
  }

  def layers(ctx: Ctx, m: Metrics.Sink): Unit = {
    val t = ctx.tracer
    def secs(name: String) = t.named(name).map(_.seconds).sum
    t.span("text.shingle") {
      frame.select(size(char_shingles(col("text"), 5)).as("n")).agg(sum(col("n"))).head()
    }
    t.span("text.minhash") {
      frame.select(size(minhash_bands(col("text"), 64, 16, 5)).as("n")).agg(sum(col("n"))).head()
    }
    channel.reset()
    val pairs = t.span("ml.candidates") {
      val p = Dedup.minhashCandidates(frame, maxBucket = MaxBucket, droppedBuckets = Some(channel))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.count("pairs", p.count().toDouble)
      p
    }
    val rounds = t.span("ml.cc") {
      val (cc, n) = Components.connectedComponentsWithStats(pairs)
      cc.count()
      n
    }
    pairs.unpersist()
    val ml = t.named("ml.candidates") ++ t.named("ml.cc")
    m.put("text.shingle_s", secs("text.shingle"))
    m.put("text.minhash_s", secs("text.minhash"))
    m.put("ml.candidates_s", secs("ml.candidates"))
    m.put("ml.candidate_pairs", t.named("ml.candidates").map(_.counts.getOrElse("pairs", 0.0)).sum)
    m.put("ml.buckets_dropped", channel.count.toDouble)
    m.put("ml.cc_s", secs("ml.cc"))
    m.put("ml.cc_rounds", rounds.toDouble)
    m.put("ml.shuffle_bytes", ml.map(_.cost.shuffleWriteBytes.toDouble).sum)
    m.put("ml.spill_bytes", ml.map(_.cost.diskSpillBytes.toDouble).sum)
    TileLayers.foldTrace(ctx, m)
  }

  override def describe: Seq[String] = Seq(
    s"inputs: ${docs.texts.length} documents (${Size.base} originals, ${docs.planted.length} planted copies, " +
      s"class of ${docs.megaClass.length} above maxBucket $MaxBucket)",
    summary)
}
