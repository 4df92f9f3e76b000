package graft.text

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Property-based check for [[Dedup.connectedComponents]] (plain
  * scalacheck with fixed seeds — the scalatestplus bridge isn't in the
  * offline dependency cache): on random edge lists, the Spark
  * min-label propagation must agree with a trusted in-memory
  * union-find on every vertex. */
class CcPropertySpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are not guaranteed min under arbitrary union order — re-map
    // every member to the min id of its set
    parent.keys.toSeq.groupBy(find).flatMap { case (_, ms) =>
      val m = ms.min
      ms.map(_ -> m)
    }.toMap
  }

  private val edgeListGen: Gen[List[(Long, Long)]] =
    Gen.choose(1, 40).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.choose(0L, 25L)
        b <- Gen.choose(0L, 25L).suchThat(_ != a)
      } yield (math.min(a, b), math.max(a, b)))
    }

  test("1000-node chain converges within default maxIter (O(log n) rounds, not O(diameter))") {
    import spark.implicits._
    // a single path 0-1-2-…-1000: diameter 1000, so label propagation
    // would need >20 rounds — large/small-star must finish well inside
    // the default maxIter=20 and label every vertex with component 0
    val chain = (0L until 1000L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(chain.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1001)
    assert(got.forall(_._2 == 0L), s"non-zero components: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("random graphs: Spark CC == union-find reference (12 seeded cases)") {
    import spark.implicits._
    (1 to 12).foreach { i =>
      val edges = edgeListGen(Gen.Parameters.default, Seed(i.toLong)).get
      val expected = unionFind(edges)
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$i edges=$edges")
    }
  }

  private def labels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("an empty pair frame gives an empty labelling") {
    assert(labels(Seq.empty).isEmpty)
  }

  test("a vertex seen only in a self-loop is labelled as itself") {
    assert(labels(Seq(7L -> 7L)) == Map(7L -> 7L))
    assert(labels(Seq(7L -> 7L, 1L -> 2L)) == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
  }

  test("duplicate and reversed pairs label like the deduplicated pairs") {
    val dedup = Seq(1L -> 2L, 2L -> 3L, 5L -> 6L)
    val noisy = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 3L -> 2L, 2L -> 3L, 6L -> 5L, 6L -> 5L)
    assert(labels(dedup) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(labels(noisy) == labels(dedup))
  }
}
