package graft.graphs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  /** events-shaped frame from undirected link pairs (the PageRank.edges
    * input contract: user_id + props.k).
    */
  private def eventsOf(links: Seq[(Long, Long)]) =
    links.map { case (a, b) => (a, s"""{"k":$b}""") }.toDF("user_id", "props")

  test("K4: 6 edges, 12 wedges, 4 triangles, closure 1000 permille") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val r = Triangles.stats(eventsOf(k4)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((6L, 12L, 4L, 1000L)))
  }

  test("a path has wedges but zero triangles; closure 0") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val r = Triangles.stats(eventsOf(path)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 2L, 0L, 0L)))
  }

  test("triangles are orientation-unique: a hub star plus one closing edge counts once") {
    // star center 1 with leaves 2..6, plus edge (2,3): exactly one
    // triangle {1,2,3} — the hub's wedges must not double-count it
    val g = (2L to 6L).map(l => (1L, l)) :+ ((2L, 3L))
    val r = Triangles.stats(eventsOf(g)).collect().head
    assert(r.getLong(2) === 1L)
  }

  test("local clustering: K4 all-1000; star+closing-edge has center 100, closed leaves 1000, open leaves 0") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val c4 = Triangles.localClustering(eventsOf(k4)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(c4.values.toSet === Set((3L, 3L, 1000L)))
    val star = (2L to 6L).map(l => (1L, l)) :+ ((2L, 3L))
    val cs = Triangles.localClustering(eventsOf(star)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cs(1L) === ((5L, 1L, 100L))) // center: 1 triangle over C(5,2)=10 wedges
    assert(cs(2L) === ((2L, 1L, 1000L)) && cs(3L) === ((2L, 1L, 1000L)))
    assert(cs(4L) === ((1L, 0L, 0L))) // degree-1 leaf
  }

  test("local clustering is consistent with the global census (sum n_tri = 3T)") {
    assumeTestdata(sf001)
    val t = Triangles.stats(Tables.events(spark, sf001)).collect().head.getLong(2)
    val sumPerVertex = Triangles.localClustering(Tables.events(spark, sf001))
      .agg(sum(col("n_tri"))).collect().head.getLong(0)
    assert(sumPerVertex === 3 * t)
  }

  test("DOULION sampled census: HT estimates track the exact counts on the live graph") {
    assumeTestdata(sf01)
    val exact = Triangles.stats(Tables.events(spark, sf01)).collect().head
    val s = Triangles.statsSampledU(Tables.events(spark, sf01)).collect().head
    // integer HT identities
    assert(s.getLong(2) === s.getLong(0) * 10L)
    assert(s.getLong(3) === s.getLong(1) * 1000L)
    // edge estimate: ~binomial, rel std sqrt((1-p)/(p*m)); triangles:
    // DOULION var ~ T/p^3 => rel std ~ 1/sqrt(p^3*T). 4-sigma bounds on
    // the deterministic fixture (no flakiness once green).
    val m = exact.getLong(0).toDouble
    val t = exact.getLong(2).toDouble
    assert(math.abs(s.getLong(2) - m) / m < 4 * math.sqrt(0.9 / (0.1 * m)),
      s"est_edges ${s.getLong(2)} vs exact $m")
    assert(math.abs(s.getLong(3) - t) / t < 4 / math.sqrt(0.001 * t),
      s"est_triangles ${s.getLong(3)} vs exact $t")
  }

  test("live graph: oriented out-degree respects the sqrt(2m) bound — the last-reducer guard") {
    assumeTestdata(sf001)
    // the SHIPPED canonicalization and orientation, not an inline
    // re-spell that could drift from the production rule (review r15)
    val und = Triangles.canonicalEdges(Tables.events(spark, sf001))
    val m = und.count()
    val maxOut = Triangles.orient(und, Triangles.degrees(und))
      .groupBy("u").agg(count(lit(1)).as("out"))
      .agg(max(col("out"))).collect().head.getLong(0)
    assert(maxOut.toDouble <= math.sqrt(2.0 * m) + 1,
      s"max oriented out-degree $maxOut exceeds sqrt(2m)=${math.sqrt(2.0 * m)}")
  }

  test("pct=100 sampled census equals the exact census") {
    assumeTestdata(sf001)
    val events = Tables.events(spark, sf001)
    val exact = Triangles.stats(events).collect().head
    val full = Triangles.statsSampledU(events, pct = 100).collect().head
    assert(exact.getAs[Long]("n_triangles") > 0L)
    // m = 1: seen counts and estimates both equal the exact census
    Seq("n_edges_seen", "est_edges").foreach { c =>
      assert(full.getAs[Long](c) === exact.getAs[Long]("n_edges"))
    }
    Seq("n_triangles_seen", "est_triangles").foreach { c =>
      assert(full.getAs[Long](c) === exact.getAs[Long]("n_triangles"))
    }
  }
}
