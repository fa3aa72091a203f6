package graft

import graft.operators.{Dedup, Skew}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property-based checks (raw ScalaCheck, no scalatest bridge in the
  * offline cache): each Spark operator is compared against an INDEPENDENT
  * plain-Scala reference implementation over arbitrary generated inputs —
  * a different correctness axis than the DuckDB oracles, which pin only
  * the fixed test corpus.
  */
class OperatorPropertySpec extends SparkSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8)
    .withWorkers(1)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  // cents-valued doubles: exact in DECIMAL(18,6) and in BigDecimal
  private val cents: Gen[Double] = Gen.choose(-1000000L, 1000000L).map(_ / 100.0)
  private val keyGen: Gen[String] = Gen.choose(0, 4).map("k" + _)

  test("property: saltedAggs(sum,count,min,max,avg) == plain-Scala reference on arbitrary bags") {
    import Skew._
    val rows = Gen.listOfN(40, Gen.zip(keyGen, cents)).map(_.take(40))
    check(Prop.forAll(rows) { xs =>
      import spark.implicits._
      val df = xs.toDF("k0", "v")
      val got = saltedAggs(df, col("k0"),
        Seq(SaltedSum(col("v"), "s"), SaltedCount("n"),
          SaltedMin(col("v"), "lo"), SaltedMax(col("v"), "hi"),
          SaltedAvg(col("v"), "m")), salts = 7)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5))))
        .toMap
      val want = xs.groupBy(_._1).map { case (k, g) =>
        val vs = g.map(_._2)
        val s = vs.map(BigDecimal(_)).sum
        k -> ((s.toDouble, vs.size.toLong, vs.min, vs.max,
          s.toDouble / vs.size))
      }
      got == want
    })
  }

  test("property: dedupClusters == union-find reference on arbitrary edge lists") {
    val edge = Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))
    val edges = Gen.listOfN(12, edge)
    check(Prop.forAll(edges) { es =>
      import spark.implicits._
      val got = Dedup.dedupClusters(es.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // union-find reference
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val want = nodes.groupBy(find).flatMap { case (_, members) =>
        val label = members.min
        members.map(_ -> label)
      }.toMap
      got == want
    })
  }

  test("property: exactKeepFirst == min-id-per-normalized-text reference") {
    val text = Gen.listOfN(3, Gen.oneOf("A", "b", "C", "d")).map(_.mkString(" "))
    val rows = Gen.listOfN(25, text).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t)
    })
    check(Prop.forAll(rows) { xs =>
      import spark.implicits._
      val got = Dedup.exactKeepFirst(xs.toDF("doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
      val want = xs.groupBy(_._2.toLowerCase).values.map(_.map(_._1).min).toSet
      got == want
    })
  }

  test("property: native as-of join == plain-Scala reference on arbitrary inputs") {
    val leftGen = Gen.listOfN(15, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L)))
      .map(_.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) })
    val rightGen = Gen.listOfN(10, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L)))
      .map(_.zipWithIndex.map { case ((k, t), i) =>
        (k, t, 1000L + i, 7000L + i) }) // unique tie + value per right row
    check(Prop.forAll(leftGen, rightGen) { (ls, rs) =>
      (ls.isEmpty || rs.isEmpty) || {
        import spark.implicits._
        val got = graft.plans.AsofJoin(
          ls.toDF("k", "t", "id"), rs.toDF("k", "t", "id", "v"),
          "k", "t", "id", "v", "m")
          .collect().map(r => r.getLong(2) ->
            (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
        // reference: latest right row with (t, tie) strictly before the
        // left row's (t, tie), per key
        val want = ls.map { case (lk, lt, lid) =>
          val prior = rs.filter { case (rk, rt, rid, _) =>
            rk == lk && (rt < lt || (rt == lt && rid < lid)) }
          lid -> prior.sortBy { case (_, rt, rid, _) => (rt, rid) }
            .lastOption.map(_._4)
        }.toMap
        got == want
      }
    })
  }

  test("property: LSH pairs are a verified subset of exact Jaccard pairs") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    val docsGen = Gen.listOfN(8, doc).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t) })
    check(Prop.forAll(docsGen) { xs =>
      import spark.implicits._
      val df = xs.toDF("doc_id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) = d.select("a", "b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      val exact = rows(Dedup.ngramJaccardPairs(df, 0.8))
      val lsh = rows(Dedup.minhashLshPairs(df, 0.8))
      // the shared verify kernel: the prefix filter and a verify of every
      // a < b pair are exact, so they equal the inverted-index join
      val everyPair = (for ((a, _) <- xs; (b, _) <- xs if a < b) yield (a, b))
        .toDF("a", "b")
      val ppjoin = rows(Dedup.prefixFilteredJaccardPairs(df, 0.8))
      val verified = rows(Dedup.verifyCandidates(df, everyPair, 0.8))
      // candidates are exactly verified → no false positives, ever
      (lsh.toSet.subsetOf(exact.toSet) :| s"LSH $lsh not within $exact") &&
        ((ppjoin == exact) :| s"prefix filter $ppjoin != $exact") &&
        ((verified == exact) :| s"verify of every pair $verified != $exact")
    })
  }

  test("property: simhash banded join is pigeonhole-complete on arbitrary corpora") {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val doc = Gen.listOfN(10, word).map(_.mkString(" "))
    val docsGen = Gen.listOfN(8, doc).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t) })
    check(Prop.forAll(docsGen) { xs =>
      import spark.implicits._
      // banded must find EVERY pair brute-force hamming finds (n_missing=0)
      val row = Dedup.simhashBandedComplete(xs.toDF("doc_id", "text")).collect().head
      row.getBoolean(row.fieldIndex("banded_complete"))
    })
  }

  test("property: percentile_disc index formula == smallest-value-with-cume>=p reference") {
    val vals = Gen.listOfN(30, Gen.choose(1, 100))
    check(Prop.forAll(vals) { xs0 =>
      xs0.isEmpty || {
        import spark.implicits._
        val xs = xs0.map(_.toDouble)
        val df = xs.zipWithIndex.map { case (v, i) => ("g", v, i.toLong) }
          .toDF("event_type", "value", "event_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val got = df.select(col("event_type"), col("value"),
            row_number().over(w).as("rn"),
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy("event_type")).as("n"))
          .groupBy("event_type")
          .agg(
            max(when(expr("rn = (n + 3) DIV 4"), col("value"))).as("p25"),
            max(when(expr("rn = (n + 1) DIV 2"), col("value"))).as("p50"),
            max(when(expr("rn = (9 * n + 9) DIV 10"), col("value"))).as("p90"))
          .collect().head
        // reference: smallest value whose cumulative count reaches ceil(p*n),
        // computed in exact rationals
        val sorted = xs.sorted
        def disc(num: Int, den: Int): Double =
          sorted((num * sorted.size + den - 1) / den - 1)
        got.getDouble(1) == disc(1, 4) &&
          got.getDouble(2) == disc(1, 2) &&
          got.getDouble(3) == disc(9, 10)
      }
    })
  }

  test("property: chunking covers every token and respects width/stride arithmetic") {
    val word = Gen.oneOf("a", "bb", "ccc")
    val doc = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val docsGen = Gen.listOfN(5, doc).map(_.zipWithIndex.map {
      case (t, i) => (i.toLong, t) })
    check(Prop.forAll(docsGen) { xs =>
      import spark.implicits._
      val df = xs.toDF("doc_id", "text")
      val ts = filter(split(lower(col("text")), " "),
        (w: org.apache.spark.sql.Column) => w =!= "")
      val cap = greatest(size(col("ts")).cast("long") - 10, lit(0L))
      val chunks = df.select(col("doc_id"), ts.as("ts"))
        .select(col("doc_id"), col("ts"),
          explode(array_distinct(concat(
            sequence(lit(0L), cap, lit(5L)), array(cap)))).as("start"))
        .select(col("doc_id"), col("start"),
          slice(col("ts"), (col("start") + 1).cast("int"), lit(10)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2)))
      xs.forall { case (id, text) =>
        val toks = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
        val mine = chunks.filter(_._1 == id).sortBy(_._2)
        val capV = math.max(toks.size - 10, 0).toLong
        val wantStarts = ((0L to capV by 5L) :+ capV).distinct
        mine.map(_._2).toSeq == wantStarts &&
          // reassembling chunk tokens at their offsets reproduces the doc
          mine.forall { case (_, s, c) =>
            c == toks.slice(s.toInt, s.toInt + 10) } &&
          // full coverage: every token index falls inside some chunk
          toks.indices.forall(i => mine.exists { case (_, s, c) =>
            i >= s && i < s + c.size })
      }
    })
  }

  test("property: TopKAggregator == sort-and-take reference per group") {
    import graft.functions.TopKAggregator
    val row = Gen.zip(keyGen, cents, Gen.choose(0L, 1000L))
    val rows = Gen.listOfN(30, row)
    check(Prop.forAll(rows) { xs =>
      import spark.implicits._
      val agg = new TopKAggregator[(String, Double, Long)](3, t => (t._2, t._3))
      val got = xs.toDS().groupByKey(_._1)
        .agg(agg.toColumn.name("top"))
        .collect().map { case (k, top) => k -> top.toList }.toMap
      val want = xs.groupBy(_._1).map { case (k, g) =>
        k -> g.map(t => (t._2, t._3))
          .sortBy { case (v, id) => (-v, id) }
          // ties on (value, id) are genuine duplicates; the aggregator
          // keeps duplicate pairs like the sort does
          .take(3).toList
      }
      got == want
    })
  }
}
