package vps.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

import vps.text.{ArrayPairs, CharShingles, CollectCapped, CosineSim, DocFingerprint, HashUniform, LangId, MinHashBands, NgramJaccard, SimHash64}

/** The engine's SQL function surface: one name -> builder table installed by
  * both [[vps.sql.functions.register]] (per session) and [[VpsExtensions]]
  * (`spark.sql.extensions`), so what SQL can see does not depend on how the
  * session was built.
  */
object FunctionTable {
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("st_point", e => StPoint(e(0), e(1))),
    ("st_geomfromwkt", e => StGeomFromWkt(e(0))),
    ("st_astext", e => StAsText(e(0))),
    ("st_x", e => StX(e(0))),
    ("st_y", e => StY(e(0))),
    ("st_area", e => StArea(e(0))),
    ("st_length", e => StLength(e(0))),
    ("st_centroid", e => StCentroid(e(0))),
    ("st_isempty", e => StIsEmpty(e(0))),
    ("st_makevalid", e => StMakeValid(e(0))),
    ("st_buffer", e => StBuffer(e(0), e(1))),
    ("st_convexhull", e => StConvexHull(e(0))),
    ("st_envelope", e => StEnvelope(e(0))),
    ("st_boundary", e => StBoundary(e(0))),
    ("st_numgeometries", e => StNumGeometries(e(0))),
    ("st_isvalid", e => StIsValid(e(0))),
    ("st_union_agg", e => StUnionAgg(e(0)).toAggregateExpression()),
    ("st_intersection", e => StIntersection(e(0), e(1))),
    ("st_union", e => StUnion(e(0), e(1))),
    ("st_difference", e => StDifference(e(0), e(1))),
    ("st_symdifference", e => StSymDifference(e(0), e(1))),
    ("st_contains", e => StContains(e(0), e(1))),
    ("st_intersects", e => StIntersects(e(0), e(1))),
    ("st_within", e => StWithin(e(0), e(1))),
    ("st_distance", e => StDistance(e(0), e(1))),
    ("st_simplify", e => StSimplify(e(0), e(1), e(2))),
    ("st_cliptotile", e => StClipToTile(e(0), e(1), e(2), e(3))),
    ("st_reproject", e => StReproject(e(0), e(1), e(2))),
    ("tile_x", e => TileXOf(e(0), e(1))),
    ("tile_y", e => TileYOf(e(0), e(1))),
    ("cell_at", e => CellAt(e(0), e(1), e(2))),
    ("cell_parent", e => CellParent(e(0), e(1))),
    ("cell_kring", e => CellKRing(e(0), e(1))),
    ("tile_keys", e => TileKeysOf(e(0), e(1))),
    ("parent_tile_keys", e => ParentTileKeys(e(0))),
    ("cells_of", e => CellsOf(e(0), e(1))),
    ("minhash_bands", e => MinHashBands(e(0), e(1), e(2), e(3))),
    ("simhash64", e => SimHash64(e(0))),
    ("ngram_jaccard", e => NgramJaccard(e(0), e(1), e(2))),
    ("doc_fingerprint", e => DocFingerprint(e(0))),
    ("lang_id", e => LangId(e(0))),
    ("cosine_sim", e => CosineSim(e(0), e(1))),
    ("hash_uniform", e => HashUniform(e(0), e(1))),
    ("char_shingles", e => CharShingles(e(0), e(1))),
    ("array_pairs", e => ArrayPairs(e(0))),
    ("collect_capped", e => CollectCapped(e(0), foldableCap(e(1))).toAggregateExpression()))

  /** collect_capped's cap must be a foldable integer literal. Checked BEFORE
    * eval: a column-reference cap would otherwise die inside
    * eval(InternalRow.empty) with an unhelpful unresolved/NPE-style error.
    */
  private def foldableCap(cap: Expression): Int = {
    if (!cap.foldable) throw new IllegalArgumentException(
      s"collect_capped: cap must be a foldable integer literal, got ${cap.sql}")
    cap.eval(InternalRow.empty) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"collect_capped: cap must be a foldable integer literal, got $other")
    }
  }
}
