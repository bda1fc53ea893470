package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.JaccardJoin
import graft.text.TextOps

/** The prefix filter is a theorem — so the join must equal brute force on
  * random sets at several thresholds, including ties AT the threshold.
  */
class JaccardJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(sets: Map[Long, Set[Long]], tNum: Int, tDen: Int): Set[(Long, Long)] =
    JaccardJoin.similarPairs(spark,
        sets.toSeq.flatMap { case (d, is) => is.map(d -> _) }.toDF("doc_id", "item"),
        tNum, tDen)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  private def brute(sets: Map[Long, Set[Long]], tNum: Int, tDen: Int): Set[(Long, Long)] =
    (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      if inter.toLong * tDen >= (sa.size + sb.size - inter).toLong * tNum
    } yield (a, b)).toSet

  test("exact threshold tie is kept, one item short is dropped") {
    // |A|=|B|=10, inter=9 → J = 9/11; with t = 9/11 the tie qualifies
    val a = (0L until 10L).toSet
    val b = (0L until 9L).toSet + 100L
    val sets = Map(1L -> a, 2L -> b)
    assert(run(sets, 9, 11) === Set((1L, 2L)))
    assert(run(sets, 10, 12) === Set.empty) // 9/11 < 10/12
  }

  test("random sets: prefix-filtered join equals brute force at t=0.5/0.7/0.9") {
    val rnd = new scala.util.Random(123L)
    val sets = (0L until 80L).map { d =>
      d -> Seq.fill(6 + rnd.nextInt(10))(rnd.nextInt(40).toLong).toSet
    }.toMap
    for ((tn, td) <- Seq((1, 2), (7, 10), (9, 10)))
      assert(run(sets, tn, td) === brute(sets, tn, td), s"t=$tn/$td")
  }

  test("frequentPairs equals the unpruned brute force (apriori is lossless)") {
    val docs = Seq(
      (1L, "a b c rare1"), (2L, "a b c"), (3L, "a b rare2"),
      (4L, "a c d"), (5L, "b c d"), (6L, "a b c d")).toDF("doc_id", "text")
    val got = TextOps.frequentPairs(spark, docs, minItem = 3L, minPair = 3L)
      .as[(String, String, Long)].collect().toSet
    // presence: a=5 b=5 c=5 d=3; pairs ≥3: ab=4 ac=4 bc=4 cd=3 (ad=2, bd=2)
    assert(got === Set(("a", "b", 4L), ("a", "c", 4L), ("b", "c", 4L), ("c", "d", 3L)))
    intercept[IllegalArgumentException] {
      TextOps.frequentPairs(spark, docs, minItem = 5L, minPair = 3L)
    }
  }
}
