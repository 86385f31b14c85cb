package vps.sql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import vps.SparkTestSession

class VpsExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=vps.sql.VpsExtensions injects the SQL surface") {
    val shared = SparkTestSession.spark // ensure the shared context exists
    // spark.sql.extensions is a STATIC conf (first session in the JVM only);
    // in-JVM tests must use the programmatic withExtensions route — same
    // class, same injection path. Clear the default session so getOrCreate
    // builds a new one with the extensions applied.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new VpsExtensions())
      .getOrCreate()
    try {
      val row = spark.sql(
        """SELECT st_x(st_point(12.5, -3.25)) AS x,
          |       tile_x(CAST(12.5 AS DOUBLE), 8) AS tx,
          |       st_astext(st_reproject(st_point(15.0, 0.0), 'EPSG:4326', 'EPSG:32633')) AS utm,
          |       ngram_jaccard('abcdefgh', 'abcdefgh', 5) AS j
          |""".stripMargin).head()
      assert(row.getDouble(0) === 12.5)
      assert(row.getInt(1) === vps.geom.TileMath.tileX(12.5, 8))
      assert(row.getString(2).startsWith("POINT (500000"))
      assert(row.getDouble(3) === 1.0)
      // geometry predicate through pure SQL; JTS contains = interior only,
      // so the boundary points x=0 and x=10 do not count
      val n = spark.sql(
        """SELECT count(*) FROM (
          |  SELECT st_contains(st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
          |                     st_point(CAST(id AS DOUBLE), 5.0)) AS hit
          |  FROM range(20)) WHERE hit""".stripMargin).head().getLong(0)
      assert(n === 9)
      // bounded collect: group of 5 <= cap collects; group of 15 > cap -> NULL
      val capped = spark.sql(
        """SELECT id % 2 AS g, collect_capped(id, 10) AS ids
          |FROM range(20) WHERE id < 5 OR id % 2 = 1 GROUP BY 1 ORDER BY 1""".stripMargin)
        .collect()
      assert(capped(0).getSeq[Long](1).sorted === Seq(0L, 2L, 4L))
      assert(capped(1).isNullAt(1) === false && capped(1).getSeq[Long](1).length === 10)
      val overflow = spark.sql(
        "SELECT collect_capped(id, 10) FROM range(11)").head()
      assert(overflow.isNullAt(0), "over-cap group must evaluate to NULL")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("functions.register and VpsExtensions expose the same SQL function set") {
    val shared = SparkTestSession.spark
    def names(s: SparkSession): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    // newSession() starts from the builtin registry, without temp functions
    val builtin = names(shared.newSession())
    val registered = shared.newSession()
    functions.register(registered)
    val viaRegister = names(registered) -- builtin

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new VpsExtensions())
      .getOrCreate()
    try {
      val viaExtensions = names(ext) -- builtin
      assert(viaRegister === viaExtensions)
      assert(viaRegister === FunctionTable.builders.map(_._1).toSet)
      assert(viaRegister.size === 46)
      // one name from each side the two paths used to disagree on, through both
      Seq(registered, ext).foreach { s =>
        val row = s.sql(
          """SELECT st_length(st_geomfromwkt('LINESTRING (0 0, 3 4)')) AS len,
            |       st_astext(st_envelope(st_geomfromwkt('LINESTRING (0 0, 3 4)'))) AS env
            |""".stripMargin).head()
        assert(row.getDouble(0) === 5.0)
        assert(row.getString(1) === "POLYGON ((0 0, 0 4, 3 4, 3 0, 0 0))")
      }
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
