package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** Property tests (SURVEY §5.2): the parse layer is lossless for the
  * arity-coercion rationalization — first k-1 fields + tail-rejoin always
  * reconstructs the original line. Driven by ScalaCheck generators with a
  * fixed seed (scalatestplus bridge isn't on the offline classpath, so
  * samples are drawn directly). */
class RoundTripPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val field: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('가', '語', ' ', ',', '.')))
      .map(_.mkString)
  private val lineGen: Gen[List[String]] = Gen.choose(3, 7).flatMap(Gen.listOfN(_, field))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("split + overflow-rejoin reconstructs the original line (Q1 losslessness)") {
    import spark.implicits._
    val cases = samples(Gen.listOfN(8, lineGen), 25)
    assert(cases.nonEmpty)
    cases.foreach { fieldLists =>
      val lines = fieldLists.map(_.mkString(":"))
      val parsed = Pipeline.parseDelimited(lines.toDF("value"), Seq("a", "b", "c"))
      val rebuilt = parsed.collect()
        .map(r => s"${r.getString(0)}:${r.getString(1)}:${r.getString(2)}").toSeq
      // every input line has >= 3 fields, so none are filtered
      assert(rebuilt.sorted == lines.sorted)
    }
  }

  test("dedup idempotence: distinct twice equals distinct once") {
    val d = graft.operators.Relational.distinctPairs(spark, TestSpark.sf)
    assert(d.distinct().count() == d.count())
  }

  test("merge algebra: idempotent, and key-disjoint split application equals one-shot") {
    import spark.implicits._
    import graft.operators.Curation
    // random keyed corpora: overlapping/disjoint key ranges, duplicate
    // text values, empty-ish deltas — keys unique WITHIN each side, as
    // the merge contract requires
    val rowGen: Gen[(Long, String)] = for {
      id <- Gen.choose(0L, 40L); t <- Gen.alphaNumStr
    } yield (id, t)
    val frameGen: Gen[Map[Long, String]] =
      Gen.choose(0, 25).flatMap(Gen.listOfN(_, rowGen)).map(_.toMap)
    def df(m: Map[Long, String]) =
      m.toSeq.map { case (id, t) => (id, t, "en", "src") }
        .toDF("doc_id", "text", "lang", "source")
    val cases = samples(Gen.zip(frameGen, frameGen), 12)
    assert(cases.nonEmpty)
    cases.foreach { case (baseM, deltaM) =>
      val once = Curation.mergeTexts(df(baseM), df(deltaM)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      // reference semantics: delta wins on key overlap
      assert(once === baseM ++ deltaM)
      // idempotence: re-applying the same delta changes nothing
      val twice = Curation.mergeTexts(
        Curation.mergeTexts(df(baseM), df(deltaM)), df(deltaM)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(twice === once)
      // split application (the streaming micro-batch algebra): applying
      // the delta in two key-disjoint halves equals applying it at once
      val (d1, d2) = deltaM.partition(_._1 % 2 == 0)
      val split = Curation.mergeTexts(
        Curation.mergeTexts(df(baseM), df(d1)), df(d2)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(split === once)
    }
  }

  test("connected components equals reference union-find on random graphs") {
    import spark.implicits._
    // random sparse graphs over <= 30 nodes: chains, cliques-by-accident,
    // isolated pairs, self-contradicting duplicates — all shapes the LSH
    // pair list can produce
    val edgeGen: Gen[(Long, Long)] = for {
      a <- Gen.choose(0L, 29L); b <- Gen.choose(0L, 29L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    val graphGen: Gen[List[(Long, Long)]] =
      Gen.choose(1, 40).flatMap(Gen.listOfN(_, edgeGen))
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // normalize: every node maps to its component's MIN id
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      byRoot.toSeq.flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
    }
    samples(graphGen, 12).foreach { edges =>
      for (distributed <- Seq(false, true)) {
        val got = graft.operators.Dedup.connectedComponentsWithRounds(
            edges.toDF("doc_a", "doc_b"), forceDistributed = distributed)._1
          .collect().map(r => (r.getLong(1), r.getLong(0))).toMap
        assert(got == unionFind(edges), s"distributed=$distributed, edges: $edges")
      }
    }
  }

  test("z-order property: interleave is a bijection on random 10-bit pairs, order-preserving per dim") {
    import spark.implicits._
    val pairGen = for {
      u <- Gen.choose(0L, 1023L)
      h <- Gen.choose(0L, 1023L)
    } yield (u, h)
    val pairs = samples(Gen.listOfN(64, pairGen), 8).flatten.distinct
    // evaluate the operator's exact kernel expression over the samples
    val z = pairs.toDF("ub", "hb")
      .selectExpr("ub", "hb",
        """aggregate(sequence(0, 9), 0L, (acc, i) ->
             acc + shiftleft(shiftright(ub, i) & 1, 2 * i)
                 + shiftleft(shiftright(hb, i) & 1, 2 * i + 1)) AS zval""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bijection: distinct inputs map to distinct keys, and de-interleave inverts
    assert(z.map(_._3).distinct.length == z.length)
    z.foreach { case (ub, hb, zv) =>
      var u = 0L; var h = 0L
      for (i <- 0 until 10) {
        u |= ((zv >> (2 * i)) & 1) << i
        h |= ((zv >> (2 * i + 1)) & 1) << i
      }
      assert(u == ub && h == hb)
    }
    // monotone per dimension with the other fixed: more-significant
    // interleaved bits preserve each dim's order within a fixed partner
    z.groupBy(_._2).values.filter(_.length > 1).foreach { g =>
      val sorted = g.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._3, s"zval not monotone in ub at hb=${a._2}")
        case _ =>
      }
    }
  }
}
