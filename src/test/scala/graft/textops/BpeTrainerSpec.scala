package graft.textops

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BpeKernel

/** Every table [[BpeTrainer.learn]] trains passes
  * [[BpeKernel.requireRankConsistent]], the precondition `bpe_encode_words`
  * checks at plan time: no pair is learned twice, and no rule uses a symbol
  * that a later rule produces. Small alphabets and short words make merges
  * that rebuild an earlier rule's symbols as likely as they get. */
class BpeTrainerSpec extends AnyFunSuite {

  private val corpus: Gen[(Array[(String, Long)], Int, Long)] = for {
    letters <- Gen.choose(1, 4)
    n <- Gen.choose(1, 12)
    words <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 8)
      w <- Gen.listOfN(len, Gen.choose('a', ('a' + letters - 1).toChar))
      f <- Gen.choose(1L, 5L)
    } yield w.mkString -> f)
    merges <- Gen.choose(1, 30)
    minCount <- Gen.choose(1L, 2L)
  } yield (words.groupMapReduce(_._1)(_._2)(_ + _).toArray.sortBy(_._1), merges, minCount)

  test("every learned table is rank-consistent") {
    var seed = org.scalacheck.rng.Seed(18L)
    (0 until 5000).foreach { _ =>
      corpus.apply(Gen.Parameters.default, seed).foreach { case (hist, merges, minCount) =>
        val table = BpeTrainer.learn(hist, merges, minCount)
        withClue(s"corpus ${hist.mkString(" ")}, $merges merges, min count $minCount: ") {
          BpeKernel.requireRankConsistent(table)
        }
      }
      seed = seed.next
    }
  }
}
