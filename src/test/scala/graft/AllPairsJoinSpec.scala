package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AllPairsJoin

class AllPairsJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def join(docs: Seq[(Long, String)], t: Double, k: Int = 3) =
    AllPairsJoin.jaccardJoin(docs.toDF("doc_id", "text"), t, k)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toList

  /** Brute-force reference: distinct k-shingle Jaccard over strings. */
  private def brute(docs: Seq[(Long, String)], t: Double,
      k: Int = 3): List[(Long, Long)] = {
    def sh(s: String): Set[Seq[String]] = {
      val toks = s.trim.split("\\s+").toSeq
      if (toks.size < k) Set.empty else toks.sliding(k).map(_.toSeq).toSet
    }
    val sets = docs.map { case (id, s) => id -> sh(s) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= t
    } yield (ia, ib)).toList.sorted
  }

  test("planted near-dup found with its exact jaccard; unrelated not") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta epsilon zeta eta iota"   // one tail swap
    val c = "one two three four five six seven eight"
    val got = join(Seq((1L, a), (2L, b), (3L, c)), 0.5)
    assert(got.map(p => (p._1, p._2)) == List((1L, 2L)))
    // shingle sets: 6 each, 5 shared → 5/7
    val expect = BigDecimal(5.0 / 7.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head._3 == expect)
  }

  test("no candidate loss: matches brute force on a random corpus") {
    val rnd = new scala.util.Random(13)
    val vocab = ('a' to 'z').map(_.toString)
    val docs = (0L until 120L).map { i =>
      // overlapping doclets from a small vocab so borderline pairs exist
      val len = 5 + rnd.nextInt(12)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = join(docs, t).map(p => (p._1, p._2))
      val expect = brute(docs, t)
      assert(got == expect, s"threshold $t: got ${got.size}, " +
        s"expect ${expect.size}")
    }
  }

  test("threshold is inclusive and sub-threshold pairs are dropped") {
    // sets of 4 shingles each sharing exactly 2 → jaccard = 2/6 = 1/3
    val a = "p q r s t u"       // shingles: pqr qrs rst stu
    val b = "r s t u v w"       // shingles: rst stu tuv uvw
    assert(join(Seq((1L, a), (2L, b)), 1.0 / 3.0).nonEmpty)
    assert(join(Seq((1L, a), (2L, b)), 0.34).isEmpty)
  }

  test("incremental: build + sequential admissions lose nothing vs full join") {
    val rnd = new scala.util.Random(29)
    val vocab = ('a' to 'p').map(_.toString)
    val docs = (0L until 90L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val t = 0.4
    val full = join(docs, t).map(p => (p._1, p._2)).toSet

    val root = java.nio.file.Files
      .createTempDirectory("graft_apinc").toString
    val (seed, rest) = docs.partition(_._1 < 30L)
    val (b1, b2) = rest.partition(_._1 < 60L)
    graft.operators.AllPairsJoin.buildIndex(spark,
      seed.toDF("doc_id", "text"), root, t)
    val p1 = graft.operators.AllPairsJoin.admit(spark, root,
      b1.toDF("doc_id", "text"), t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p2 = graft.operators.AllPairsJoin.admit(spark, root,
      b2.toDF("doc_id", "text"), t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // each admission surfaces exactly the pairs involving its batch
    val seedPairs = full.filter { case (a, b) => a < 30L && b < 30L }
    val b1Pairs = full.filter { case (a, b) =>
      (a >= 30L && a < 60L) || (b >= 30L && b < 60L) }
      .filter { case (a, b) => a < 60L && b < 60L }
    val b2Pairs = full.filter { case (a, b) => a >= 60L || b >= 60L }
    assert(p1 == b1Pairs)
    assert(p2 == b2Pairs)
    assert(seedPairs ++ p1 ++ p2 == full)
  }

  test("untagged admissions each index their batch: a second direct admit keeps its pairs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_apuntagged").toString
    def docs(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
    AllPairsJoin.buildIndex(spark,
      docs(1L, "alpha beta gamma delta epsilon"), root, 0.4)
    AllPairsJoin.admit(spark, root,
      docs(2L, "red orange yellow green blue indigo"), 0.4)
    // shingles share 3 of 5: jaccard 0.6 against the second admission
    val got = AllPairsJoin.admit(spark, root,
      docs(3L, "orange yellow green blue indigo violet"), 0.4)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toList
    assert(got == List((2L, 3L, 0.6)))
    assert(graft.lake.TableLog.read(spark, s"$root/grams").count() == 3L)
  }

  test("docs below k tokens never pair; identical docs score 1.0") {
    val got = join(Seq((1L, "x y"), (2L, "x y"),
      (3L, "m n o p q"), (4L, "m n o p q")), 0.5)
    assert(got == List((3L, 4L, 1.0)))
  }
}
