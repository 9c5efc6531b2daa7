package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Materialize}

/** The two paths of `Dedup`'s symmetric-edge graph loops give the same
  * answer: a driver finish when the edge list fits, the distributed
  * rounds under `spark.sql.autoBroadcastJoinThreshold=-1`. Seeded random
  * graphs carry duplicate edges, self-loops and several components; the
  * job-count pins show where each path runs. */
class GraphLoopPathsSpec extends SparkSuite {
  import spark.implicits._

  /** `comps` random components of up to 12 nodes, each a spanning chain
    * plus extra random edges, duplicates (either orientation) and
    * self-loops. */
  private def randomGraph(seed: Long, comps: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val edges = (0 until comps).flatMap { c =>
      val nodes = rnd.shuffle((0 until 2 + rnd.nextInt(11))
        .map(i => 1000L * c + i * 7 + rnd.nextInt(7)).toVector)
      val chain = nodes.sliding(2).map(p => (p(0), p(1))).toSeq
      val extra = Seq.fill(rnd.nextInt(2 * nodes.length))(
        (nodes(rnd.nextInt(nodes.length)), nodes(rnd.nextInt(nodes.length))))
      val dups = Seq.fill(2)(chain(rnd.nextInt(chain.length)))
        .map(e => if (rnd.nextBoolean()) e.swap else e)
      chain ++ extra ++ dups :+ (nodes.head, nodes.head)
    }
    rnd.shuffle(edges).toDF("doc_a", "doc_b")
  }

  /** The loop's column names and types and its sorted rows, on both
    * paths. */
  private def assertSame(what: String, loop: => DataFrame): Unit = {
    def run(): (Seq[(String, String)], Seq[Row]) = {
      val df = loop
      (df.schema.map(f => (f.name, f.dataType.simpleString)),
        df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq)
    }
    val driver = run()
    assert(driver == distributed(run()),
      s"$what: driver finish != distributed rounds")
  }

  test("random graphs: every loop gives identical rows on both paths") {
    for (seed <- 1L to 4L) {
      val g = randomGraph(seed, comps = 3 + seed.toInt)
      assertSame(s"seed $seed labelPropagation",
        Dedup.labelPropagation(g, rounds = 4))
      assertSame(s"seed $seed connectedComponents",
        Dedup.connectedComponents(g))
      assertSame(s"seed $seed pagerank", Dedup.pagerank(g, iterations = 5))
      for (k <- 1 to 4)
        assertSame(s"seed $seed kCore k=$k",
          Dedup.kCore(g, k = k))
    }
  }

  test("a chain longer than maxIter allows throws the same message on " +
    "both paths") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def message(loop: => DataFrame): (String, String) = {
      def once = intercept[IllegalStateException](loop).getMessage
      (once, distributed(once))
    }
    val (cc, ccDist) = message(Dedup.connectedComponents(chain, maxIter = 3))
    assert(cc == ccDist && cc.contains("did not converge in 3 rounds"), cc)
    // a 40-node path peels one node off each end per round at k = 2
    val (kc, kcDist) = message(Dedup.kCore(chain, k = 2, maxIter = 3))
    assert(kc == kcDist && kc.contains("did not reach a fixpoint in 3"), kc)
  }

  test("a null endpoint keeps the loop distributed, with the same rows") {
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L),
      (3L, null), (10L, 11L)).toDF("doc_a", "doc_b")
    val (_, materialize) = jobsDuring(Materialize(edges))
    val (cc, jobs) = jobsDuring(Dedup.connectedComponents(edges))
    assert(jobs > materialize + 1,
      s"a null endpoint finished on the driver ($jobs jobs)")
    assert(cc.orderBy("node").collect().toSeq == distributed(
      Dedup.connectedComponents(edges).orderBy("node").collect().toSeq))
  }

  test("job counts: a small graph costs the edge materialization plus " +
    "one collect; under -1 each loop runs its distributed rounds") {
    // two triangles joined by a bridge, plus a pendant
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val (_, materialize) = jobsDuring(Materialize(edges))
    def jobs(loop: => DataFrame): Int = jobsDuring(loop)._2
    // distributed counts: each loop's rounds as before the driver
    // finish existed (18, 28, 11), but kCore's initial edge count is now
    // observed on the symmetrize checkpoint instead of a count() over it
    // (an aggregate's map-stage job plus its result job)
    val loops = Seq[(String, () => DataFrame, Int)](
      ("labelPropagation", () => Dedup.labelPropagation(edges, rounds = 3),
        18),
      ("connectedComponents", () => Dedup.connectedComponents(edges), 28),
      ("kCore", () => Dedup.kCore(edges, k = 2), 9))
    for ((name, loop, distJobs) <- loops) {
      val local = jobs(loop())
      assert(local <= materialize + 1,
        s"$name ran $local jobs on the driver path (edges: $materialize)")
      val dist = distributed(jobs(loop()))
      assert(dist == distJobs, s"$name ran $dist jobs under -1")
    }
  }
}
