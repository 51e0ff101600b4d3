package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import Checks.StoreRow

/** Each check passes on a correct output and rejects a planted fault. */
class ChecksSpec extends AnyFunSuite {

  private val rows = Seq(
    StoreRow("1:0", "1", "Title d00001 rev0"), StoreRow("1:1", "1", "Title d00001 rev0 Sub"),
    StoreRow("2:0", "2", "Title d00002 rev2"), StoreRow("2:1", "2", "Title d00002 rev2 Sub"))
  private val ids = Set("1", "2")
  private val latest = Map("2" -> 2)

  test("store integrity passes on a correct store") {
    assert(Checks.storeIntegrity(rows, ids, latest, 4).isEmpty)
  }

  test("store integrity rejects a duplicated key") {
    val f = Checks.storeIntegrity(rows :+ rows.head, ids, latest, 5)
    assert(f.exists(_.contains("duplicated keys")))
  }

  test("store integrity rejects a stale revision, a missing document and a wrong count") {
    val stale = rows.updated(3, StoreRow("2:1", "2", "Title d00002 rev1 Sub"))
    assert(Checks.storeIntegrity(stale, ids, latest, 4).exists(_.contains("latest revision")))
    assert(Checks.storeIntegrity(rows.take(2), ids, latest, 2).exists(_.contains("missing")))
    assert(Checks.storeIntegrity(rows, ids, latest, 5).exists(_.contains("chunks into 5")))
  }

  private val ranked = (0 until 15).map(i => s"k$i" -> (1.0 - i * 0.01))

  test("top-k passes on the exact top-k and on a tie at the k-th score") {
    assert(Checks.topK(ranked.take(10).map(_._1), ranked, 10).isEmpty)
    val tied = ranked.updated(10, "k10" -> ranked(9)._2)
    assert(Checks.topK(ranked.take(9).map(_._1) :+ "k10", tied, 10).isEmpty)
  }

  test("top-k rejects a wrong result") {
    assert(Checks.topK(ranked.take(9).map(_._1) :+ "k12", ranked, 10).nonEmpty)
    assert(Checks.topK(ranked.take(9).map(_._1) :+ "other", ranked, 10).nonEmpty)
    assert(Checks.topK(ranked.take(9).map(_._1), ranked, 10).nonEmpty)
  }

  test("the funnel check rejects a dedup or decontamination miss") {
    val funnel = Map("2_quality" -> 100L, "3_exact_dedup" -> 90L, "4_decontaminate" -> 85L)
    assert(Checks.funnel(funnel, 10, 5).isEmpty)
    assert(Checks.funnel(funnel, 9, 5).nonEmpty)
    assert(Checks.funnel(funnel.updated("4_decontaminate", 86L), 10, 5).nonEmpty)
  }

  test("a missing injected pair at or above the threshold is reported") {
    val injected = Seq(Gen.NearDup(1, 2, 0.9), Gen.NearDup(4, 3, 0.85), Gen.NearDup(5, 6, 0.7))
    assert(Checks.missingPairs(Set((1L, 2L), (3L, 4L)), injected, 0.8).isEmpty)
    assert(Checks.missingPairs(Set((1L, 2L)), injected, 0.8) == Seq(injected(1)))
  }
}
