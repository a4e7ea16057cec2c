package graft.engine

import scala.util.Random

import graft.SparkSpec

/** Property check for the CC kernel: on randomized graphs the distributed
  * result must equal a trivially-correct driver-side union-find. The DuckDB
  * oracle only ever exercises fixture-shaped graphs (shallow near-dup
  * cliques); this covers arbitrary topologies — multiple components, rings,
  * bridges, self-referential edge patterns — under a FIXED seed so failures
  * reproduce.
  */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: path-compressed union-find on the driver. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id canonical label per component, only for vertices with edges
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    touched.map(v => v -> find(v.toInt).toLong).toMap
  }

  test("connectedComponents equals union-find on 15 seeded random graphs") {
    val rng = new Random(0xC0FFEE)
    (1 to 15).foreach { trial =>
      val n = 5 + rng.nextInt(26) // 5..30 vertices
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rng.nextDouble() < 0.12
      } yield (a.toLong, b.toLong)).toSeq
      val expected = unionFind(n, edges)
      val got = Graph.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial (n=$n, ${edges.size} edges): ") {
        got shouldBe expected
      }
    }
  }

  test("adaptive mode converges on a 400-deep chain under the 25-round cap") {
    // the worst case for the 25-round cap: diameter = #vertices − 1, far
    // past what label propagation without pointer jumping reaches
    val chain = (0L until 400L).map(i => (i, i + 1))
    val got = Graph.connectedComponents(chain.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.size shouldBe 401
    all(got.values) shouldBe 0L
  }
}
