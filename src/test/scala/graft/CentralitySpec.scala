package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Bfs, Centrality}

/** Stress centrality against hand-computed closed forms and a sequential
  * brute-force shortest-path enumerator; modularity against the textbook
  * two-triangles value; σ counts against a BFS-with-counting oracle.
  */
class CentralitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stressOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Centrality.stress(spark, edges.toDF("rel_a", "rel_b"))
      .as[(Long, Long)].collect().toMap

  /** Sequential σ via BFS-with-counting per origin. */
  private def bruteSigma(edges: Seq[(Long, Long)])
      : Map[(Long, Long), (Long, Long)] = {
    val adj = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val nodes = adj.keys.toSeq
    nodes.flatMap { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      val sig = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      var d = 1L
      while (frontier.nonEmpty) {
        val nextSig = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach { v =>
          adj(v).foreach { w =>
            if (!dist.contains(w))
              nextSig(w) = nextSig.getOrElse(w, 0L) + sig(v)
          }
        }
        nextSig.foreach { case (w, c) => dist(w) = d; sig(w) = c }
        frontier = nextSig.keys.toSeq
        d += 1
      }
      dist.keys.map(v => (s, v) -> (dist(v), sig(v)))
    }.toMap
  }

  private def bruteStress(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val ap = bruteSigma(edges)
    val nodes = ap.keys.map(_._1).toSeq.distinct
    nodes.map { v =>
      v -> (for {
        s <- nodes; t <- nodes
        if s < t && v != s && v != t
        (dsv, ssv) <- ap.get((s, v)); (dvt, svt) <- ap.get((v, t))
        (dst, _) <- ap.get((s, t)) if dsv + dvt == dst
      } yield ssv * svt).sum
    }.toMap
  }

  test("allPairsSigma: 4-cycle has two shortest paths between opposite corners") {
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val got = Bfs.allPairsSigma(spark, cyc.toDF("rel_a", "rel_b"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got((0L, 2L)) == (2L, 2L))
    assert(got((1L, 3L)) == (2L, 2L))
    assert(got((0L, 1L)) == (1L, 1L))
    assert(got((0L, 0L)) == (0L, 1L))
    assert(got.size == 16)
  }

  test("stress: path interior counts pairs across it; star center is (k choose 2)") {
    // path 0-1-2-3: stress(1) = pairs {0,2},{0,3} = 2; stress(2) = 2
    assert(stressOf(Seq((0L, 1L), (1L, 2L), (2L, 3L))) ==
      Map(0L -> 0L, 1L -> 2L, 2L -> 2L, 3L -> 0L))
    // star center 9 with 4 leaves: C(4,2) = 6
    val star = (0L until 4L).map(i => (9L, i))
    assert(stressOf(star) ==
      Map(9L -> 6L, 0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // 4-cycle: each node carries one path for the opposite pair
    assert(stressOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))) ==
      (0L until 4L).map(_ -> 1L).toMap)
  }

  test("stress: random graph equals sequential brute force") {
    val rnd = new scala.util.Random(7L)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2).distinct
    assert(stressOf(edges) == bruteStress(edges))
  }

  test("modularity: two triangles + one bridge give Q = 70/196") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (3L, 3L), (4L, 3L), (5L, 3L))
    val got = Centrality.modularity(spark, labels.toDF("id", "label"),
        edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5, t._6)).toMap
    // m = 7; each community: 3 nodes, L_c = 3, D_c = 7,
    // contrib = 4*7*3 - 49 = 35, den = 196
    assert(got == Map(0L -> (3L, 3L, 7L, 35L, 196L),
      3L -> (3L, 3L, 7L, 35L, 196L)))
    assert(got.values.map(_._4).sum.toDouble / 196.0 == 70.0 / 196.0)
  }

  test("modularity: everything in one community scores 4mL - (2m)^2 = 0 for a clique-sum") {
    // single community holding ALL edges: L = m, D_tot = 2m,
    // contrib = 4m*m - 4m^2 = 0 (Q = 0, the null partition)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    val labels = (0L until 4L).map(i => (i, 0L))
    val got = Centrality.modularity(spark, labels.toDF("id", "label"),
        edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 4L, 5L, 10L, 0L, 100L)))
  }

  private def bridgesOf(edges: Seq[(Long, Long)]): Map[(Long, Long), Int] =
    Centrality.bridges(spark, edges.toDF("src", "dst"))
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap

  /** Sequential ground truth: edge is a bridge iff removing it
    * disconnects its endpoints.
    */
  private def bruteBridges(edges: Seq[(Long, Long)]): Map[(Long, Long), Int] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    und.map { e =>
      val rest = und.filterNot(_ == e).flatMap(x => Seq(x, x.swap))
      val adj = rest.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
      var seen = Set(e._1)
      var frontier = Seq(e._1)
      while (frontier.nonEmpty) {
        val nxt = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filterNot(seen).distinct
        seen ++= nxt
        frontier = nxt
      }
      e -> (if (seen(e._2)) 0 else 1)
    }.toMap
  }

  test("bridges: path is all bridges, cycle none, pendant on cycle only the pendant") {
    val path = (0L until 5L).map(i => (i, i + 1))
    assert(bridgesOf(path).values.forall(_ == 1))
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    assert(bridgesOf(cycle).values.forall(_ == 0))
    val withPendant = cycle :+ (0L, 99L)
    val got = bridgesOf(withPendant)
    assert(got((0L, 99L)) == 1 && got.count(_._2 == 1) == 1)
  }

  test("bridges: two cliques joined by one edge find exactly that edge") {
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val edges = clique(0L to 3L) ++ clique(10L to 13L) :+ (3L, 10L)
    val got = bridgesOf(edges)
    assert(got((3L, 10L)) == 1 && got.count(_._2 == 1) == 1)
  }

  test("bridges: random graph equals sequential removal test; reversed dups collapse") {
    val rnd = new scala.util.Random(13L)
    val edges = (0 until 40).map(_ =>
      (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
      .filter(e => e._1 != e._2)
    assert(bridgesOf(edges ++ edges.map(_.swap)) == bruteBridges(edges))
  }

  test("assortativity: star is perfectly disassortative; regular graph degenerates to 0") {
    // star: center 0, leaves 1..4, all one community
    val star = (1L to 4L).map(i => (0L, i))
    val labs = (0L to 4L).map(i => (i, 0L))
    val Seq((_, m, num, da, db)) =
      Centrality.assortativity(spark, labs.toDF("id", "label"),
          star.toDF("src", "dst"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(m == 8 && num < 0 && num * num == da * db) // r = -1 exactly
    // 5-cycle: all degrees 2 -> zero variance, num = da = db = 0
    val cyc = (0L until 5L).map(i => (i, (i + 1) % 5))
    val labc = (0L until 5L).map(i => (i, 0L))
    val Seq((_, mc, numc, dac, dbc)) =
      Centrality.assortativity(spark, labc.toDF("id", "label"),
          cyc.toDF("src", "dst"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(mc == 10 && numc == 0 && dac == 0 && dbc == 0)
  }

  test("assortativity: cross-community edges are excluded and degrees are subgraph-local") {
    // community 0: path 0-1-2 (plus an edge to community 1 that must
    // not count); community 1: single edge 10-11
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 10L), (10L, 11L))
    val labs = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L))
    val got = Centrality.assortativity(spark, labs.toDF("id", "label"),
        edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    // community 0 subgraph: path 0-1-2, degrees 1,2,1; 4 directed
    // instances with (dj,dk) = (1,2),(2,1),(2,1),(1,2):
    // sj=sk=6, sjk=8, sjj=skk=10 -> num=4*8-36=-4, da=db=40-36=4
    assert(got(0L) == (4L, -4L, 4L, 4L))
    // community 1: single edge, degrees 1,1 -> all zero variance
    assert(got(1L) == (2L, 0L, 0L, 0L))
  }

  test("modularity: duplicate and reversed edges collapse to one undirected edge") {
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 1L), (1L, 2L))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L))
    val got = Centrality.modularity(spark, labels.toDF("id", "label"),
        edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5, t._6)).toMap
    // m = 2; c0: {0,1}, L=1, D=3, contrib = 8-9 = -1; c2: {2}, L=0, D=1,
    // contrib = -1; den = 16
    assert(got == Map(0L -> (2L, 1L, 3L, -1L, 16L),
      2L -> (1L, 0L, 1L, -1L, 16L)))
  }

  /** Brute-force articulation reference: components via union-find with
    * and without each vertex.
    */
  private def articulationOf(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    def comps(vs: Seq[Long], es: Seq[(Long, Long)]): Int = {
      val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      vs.map(find).distinct.size
    }
    val base = comps(nodes, und)
    // v cuts iff the component count over the remaining vertices grows:
    // a non-cut removal leaves its (size ≥ 2) component connected, so
    // the count stays at base; a cut splits it
    nodes.map { v =>
      val vs = nodes.filterNot(_ == v)
      val es = und.filterNot(e => e._1 == v || e._2 == v)
      v -> (if (comps(vs, es) > base) 1 else 0)
    }.toMap
  }

  test("articulation: path interiors and hubs cut; cycles do not; matches brute force") {
    // path 0-1-2-3: interiors 1,2 cut. 4-cycle 10-11-12-13: none cut.
    // star 20-{21,22,23}: center cuts.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L))
    val got = Centrality.articulation(spark, edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t._5).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L,
      10L -> 0L, 11L -> 0L, 12L -> 0L, 13L -> 0L,
      20L -> 1L, 21L -> 0L, 22L -> 0L, 23L -> 0L))
    // random sparse graph vs union-find what-if
    val rnd = new scala.util.Random(23L)
    val re = (0 until 40).map(_ =>
      (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong)).filter(e => e._1 != e._2)
    val want = articulationOf(re).map { case (v, c) => v -> c.toLong }
    val g2 = Centrality.articulation(spark, re.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t._5).toMap
    assert(g2 == want, s"diff: ${g2.toSet -- want.toSet}")
  }
}
