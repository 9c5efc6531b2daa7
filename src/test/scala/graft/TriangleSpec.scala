package graft

import graft.functions.Dedup

/** Triangle enumeration: hand-counted shapes, each-once counting under
  * the degree orientation, and input canonicalization. */
class TriangleSpec extends SparkSuite {
  import spark.implicits._

  private def tris(edges: Seq[(Long, Long)]) =
    Dedup.triangles(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long)].collect().toSeq.sorted

  test("K4 has exactly its four sorted triangles; a chain has none") {
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    assert(tris(k4) == Seq((0L, 1L, 2L), (0L, 1L, 3L), (0L, 2L, 3L),
      (1L, 2L, 3L)))
    assert(tris(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    // a star hub has wedges but no closures
    assert(tris(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))).isEmpty)
  }

  graphTest("labelPropagation: two cliques joined by a bridge keep separate " +
    "communities (hand-replayed 3 sync rounds)") {
    import org.apache.spark.sql.functions.col
    val edges = (Seq((1L, 2L), (1L, 3L), (2L, 3L), // clique A
      (10L, 11L), (10L, 12L), (11L, 12L), // clique B
      (3L, 10L))) // bridge
      .toDF("doc_a", "doc_b")
    val got = Dedup.labelPropagation(edges, rounds = 3)
      .orderBy(col("node")).as[(Long, Long)].collect().toMap
    // hand replay: min-label tie-breaks settle A on 1; B lands on 3 (the
    // bridge head's round-2 label) — split communities, bridge not merged
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("reversed duplicates, self-loops, and tied degrees don't double-count") {
    // triangle 1-2-3 given with mixed orientations, a dup, a self-loop,
    // and a pendant; all three corners have equal degree (tie-break on id)
    val got = tris(Seq((1L, 2L), (3L, 2L), (3L, 1L), (2L, 1L), (2L, 2L),
      (3L, 9L)))
    assert(got == Seq((1L, 2L, 3L)))
  }
}
