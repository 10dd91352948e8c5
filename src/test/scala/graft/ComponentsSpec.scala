package graft

import graft.operators.DedupQueries.Components
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components label propagation (q_dedup_components' engine).
  * The fixture oracle pins the full pipeline; these planted graphs pin
  * the property the fixture may not exercise — TRANSITIVITY across pairs
  * that never co-occur directly — plus isolated vertices and diameter
  * behavior. */
class ComponentsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def run(vertices: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.labels(
        vertices.toDF("doc_id"),
        pairs.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses transitively: A-B, B-C, no A-C edge") {
    val got = run(Seq(1L, 2L, 3L, 9L), Seq((2L, 3L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("a long path converges within the round cap (diameter 12)") {
    val n = 13L
    val verts = (1L to n)
    val path = (1L until n).map(i => (i, i + 1))
    val got = run(verts, path)
    assert(got == verts.map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct minima; isolated vertices self-label") {
    val got = run(
      Seq(10L, 11L, 20L, 21L, 22L, 30L),
      Seq((10L, 11L), (21L, 20L), (21L, 22L)))
    assert(got == Map(10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L))
  }

  /** The endpoints of `pairs` missing from `vertices`: the ones labels
    * and star left-join away silently. */
  private def dangling(vertices: DataFrame, pairs: DataFrame): Set[Long] =
    pairs.select(col("u").as("doc_id"))
      .union(pairs.select(col("v").as("doc_id")))
      .distinct()
      .join(vertices.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet

  test("every components row's edge endpoints are vertices (sf0.001)") {
    // componentGraph feeds all four components rows.
    val (vertices, pairs) = graft.operators.DedupQueries.componentGraph(spark, sfDir)
    assert(pairs.count() > 0, "the fixture graph should have edges")
    assert(dangling(vertices, pairs).isEmpty)
  }

  test("a planted dangling edge is detected") {
    val got = dangling(
        Seq(1L, 2L, 3L).toDF("doc_id"),
        Seq((1L, 2L), (3L, 99L), (98L, 2L)).toDF("u", "v"))
    assert(got == Set(98L, 99L))
    // What the check guards against: labels drops the endpoint.
    assert(!run(Seq(1L, 2L, 3L), Seq((3L, 99L))).contains(99L))
  }

  // ---- Components.star: the O(log n)-round large-star/small-star form.

  private def runStar(vertices: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.star(
        vertices.toDF("doc_id"),
        pairs.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction matches propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 40
      val verts = (0L until n.toLong)
      val pairs = Seq.fill(30)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(runStar(verts, pairs) == run(verts, pairs))
    }
  }

  test("star contraction handles a 200-node path, 8x past the propagation cap") {
    // Label propagation moves the minimum ONE hop per round (capped at
    // 25); star contraction halves the structure per round instead.
    // This is the regime difference that matters at 100 TB diameters.
    val n = 200L
    val verts = (1L to n)
    val path = (1L until n).map(i => (i, i + 1))
    val got = runStar(verts, path)
    assert(got == verts.map(_ -> 1L).toMap)
  }

  test("star contraction: isolated vertices and empty edge sets self-label") {
    assert(runStar(Seq(5L, 7L), Seq.empty) == Map(5L -> 5L, 7L -> 7L))
  }
}
