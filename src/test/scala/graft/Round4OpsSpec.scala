package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Aggregates, Dedup}
import graft.operators.{Retrieval, Skyline, TextAnalysis, TimeSeries}

/** Round-4 operators: SCD2 / interval merge / rolling z-score
  * (TimeSeries), golden record (Dedup), 2-D skyline, TF-IDF cosine
  * pairs, unigram LM scoring, KMV distinct sketch. */
class Round4OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------- SCD2

  test("scd2Intervals compresses consecutive equal values and chains intervals") {
    val log = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), // same attr → one version
      (1L, 30L, 3L, "b"),                     // change
      (1L, 40L, 4L, "a"),                     // change back → NEW version
      (2L, 10L, 5L, "x"))
      .toDF("k", "t", "id", "attr")
    val got = TimeSeries.scd2Intervals(log, Seq("k"), "t", "id", "attr")
      .select("k", "version", "attr", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet
    assert(got === Set(
      (1L, 1L, "a", 10L, Some(30L)),
      (1L, 2L, "b", 30L, Some(40L)),
      (1L, 3L, "a", 40L, None),
      (2L, 1L, "x", 10L, None)))
  }

  test("scd2Intervals treats NULL→NULL as no change and NULL→value as a change") {
    val log = Seq(
      (1L, 10L, 1L, None), (1L, 20L, 2L, None),
      (1L, 30L, 3L, Some("v")))
      .toDF("k", "t", "id", "attr")
    val versions = TimeSeries.scd2Intervals(log, Seq("k"), "t", "id", "attr")
      .select("version", "attr").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toSet
    assert(versions === Set(1L -> None, 2L -> Some("v")))
  }

  // --------------------------------------------------- interval merge

  test("mergeIntervals merges overlapping and touching, keeps disjoint apart") {
    val iv = Seq(
      (1L, 1L, 5L), (1L, 4L, 9L), (1L, 9L, 12L), // chain → one island
      (1L, 20L, 25L),                            // disjoint
      (1L, 21L, 22L),                            // contained in previous
      (2L, 0L, 1L))
      .toDF("k", "s", "e")
    val got = TimeSeries.mergeIntervals(iv, Seq("k"), "s", "e")
      .select("k", "merged_start", "merged_end", "n_intervals")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set((1L, 1L, 12L, 3L), (1L, 20L, 25L, 2L), (2L, 0L, 1L, 1L)))
  }

  // -------------------------------------------------- rolling z-score

  test("rollingZScore: constant context yields NULL score, spike scores high") {
    val rows = (1 to 12).map(i => (1L, i.toLong, 10.0)) :+ (1L, 13L, 20.0)
    val df = rows.toDF("k", "ord", "v")
    val out = TimeSeries.rollingZScore(df, Seq("k"), "ord", "v", n = 20, minCtx = 5)
      .select("ord", "n_ctx", "zscore").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    // rows inside the constant run: std = 0 → no score
    assert(out(10L)._2.isEmpty)
    // the spike at ord=13 sees 12 context rows of constant 10.0 → std 0 → NULL too
    assert(out(13L)._2.isEmpty)
    // with a mixed context the score is defined and positive for a high value
    val mixed = ((1 to 10).map(i => (1L, i.toLong, i.toDouble)) :+ (1L, 11L, 100.0))
      .toDF("k", "ord", "v")
    val z11 = TimeSeries.rollingZScore(mixed, Seq("k"), "ord", "v", n = 20, minCtx = 5)
      .filter(col("ord") === 11).select("zscore").head().getDouble(0)
    assert(z11 > 3.0)
  }

  test("rollingZScore n_ctx never includes the current row") {
    val df = (1 to 6).map(i => (1L, i.toLong, i.toDouble)).toDF("k", "ord", "v")
    val ctx = TimeSeries.rollingZScore(df, Seq("k"), "ord", "v", n = 3, minCtx = 1)
      .select("ord", "n_ctx").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ctx === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  // ------------------------------------------------------------- EWMA

  test("ewmaHalf: exponent-shift weights give exactly the hand-computed smoothing") {
    val df = Seq((1L, 1L, 8.0), (1L, 2L, 4.0), (1L, 3L, 2.0)).toDF("k", "ord", "v")
    val got = TimeSeries.ewmaHalf(df, Seq("k"), "ord", "v", k = 8)
      .select("ord", "ewma").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 8.0)                              // only itself
    assert(got(2L) === (4.0 + 8.0 * 0.5) / 1.5)          // renormalized head
    assert(got(3L) === (2.0 + 4.0 * 0.5 + 8.0 * 0.25) / 1.75)
  }

  // ----------------------------------------------------- golden record

  test("goldenRecord survives each attribute independently from different rows") {
    val df = Seq(
      // key 1: newest row misses phone, older row has it
      (1L, 30L, 3L, Some("c@x"), None),
      (1L, 20L, 2L, None, Some("555")),
      (1L, 10L, 1L, Some("a@x"), Some("111")),
      // key 2: attribute entirely null
      (2L, 10L, 4L, Some("z@x"), None))
      .toDF("k", "t", "id", "email", "phone")
    val got = Dedup.goldenRecord(df, Seq("k"), "t", "id", Seq("email", "phone"))
      .select("k", "email", "phone", "last_seen", "n_rows")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, "c@x", "555", 30L, 3L),
      (2L, "z@x", null, 10L, 1L)))
  }

  // ----------------------------------------------------------- skyline

  private def bruteSkyline(pts: Seq[(Double, Double)]): Set[(Double, Double)] =
    pts.filter { p =>
      !pts.exists(q => q._1 <= p._1 && q._2 <= p._2 &&
        (q._1 < p._1 || q._2 < p._2))
    }.toSet

  test("skyline2dMin equals the brute-force dominance definition on random points") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(400)((math.floor(rnd.nextDouble() * 100) / 10,
      math.floor(rnd.nextDouble() * 100) / 10))
    val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "x", "y")
    val got = Skyline.skyline2dMin(df, "x", "y", buckets = 16)
      .select("x", "y").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got === bruteSkyline(pts))
  }

  test("skyline keeps duplicate frontier points and drops NULL/NaN rows") {
    val df = Seq(
      (1L, 1.0, 5.0), (2L, 1.0, 5.0),          // equal points: both stay
      (3L, 2.0, 5.0),                          // dominated via strict x
      (4L, 0.5, 9.0), (5L, 3.0, 1.0),          // frontier
      (6L, Double.NaN, 0.0))                   // excluded
      .toDF("id", "x", "y")
    val ids = Skyline.skyline2dMin(df, "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 4L, 5L))
  }

  // ------------------------------------------------- tf-idf cosine pairs

  test("tfidfCosinePairs: identical docs score 1, df band prunes ubiquitous terms") {
    val docs = Seq(
      (1L, "alpha beta gamma common"),
      (2L, "alpha beta gamma common"),
      (3L, "delta epsilon zeta common"),
      (4L, "eta theta iota common"))
      .toDF("doc_id", "text")
    // maxDf = 3 drops "common" (df 4); the identical pair scores exactly 1
    val pairs = Retrieval.tfidfCosinePairs(docs, minDf = 2, maxDf = 3,
        minCosine = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.keySet === Set((1L, 2L)))
    assert(pairs((1L, 2L)) === 1.0)
  }

  // ------------------------------------------------------ unigram LM

  test("unigramLogprob: uniform vocabulary gives ln(1/V) per token") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    // every token occurs once, T = 4 → lp = ln(1/4) rounded at 6dp
    val expected = BigDecimal(math.log(1.0) - math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.unigramLogprob(docs)
      .select("doc_id", "n_tokens", "avg_logprob").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.foreach { case (_, n, lp) =>
      assert(n === 2L)
      assert(math.abs(lp - expected) < 1e-9)
    }
  }

  // ------------------------------------------- fixed-point moments

  test("fitLineFixedPoint is bit-identical to the decimal fitLineExact on integers") {
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(5000) { i =>
      (s"g${i % 3}", (i % 97).toLong, (i % 97) * 37L + rnd.nextInt(1000) - 500L)
    }.toDF("k", "x", "y")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("k", "n_obs", "slope", "intercept", "r2")
        .orderBy(col("k")).collect().map(_.toSeq).toSeq
    val exact = graft.engine.SlopeOLS.fitLineExact(
      df, Seq("k"), col("x"), col("y"), minN = 1)
    val fixed = graft.engine.SlopeOLS.fitLineFixedPoint(
      df, Seq("k"), col("x"), col("y"), minN = 1)
    assert(rows(fixed) === rows(exact))
  }

  test("limbSums reconstructs exact totals incl. negatives and a would-overflow square") {
    import graft.engine.Aggregates.{limbSums, limbTotal}
    val big = 3000000000L // 3e9: square 9e18 ≈ long max — one row already on the edge
    val df = Seq(-5L, 7L, big, -big, 123456789L).toDF("m")
    val got = df.agg(limbSums(col("m"), "t").head, limbSums(col("m"), "t").tail: _*)
      .select(limbTotal("t").cast("string"))
      .head().getString(0)
    assert(BigDecimal(got) === BigDecimal(-5L + 7L + big - big + 123456789L))
  }

  // ------------------------------------------- clustering coefficient

  test("clusteringCoefficients: clique nodes 1.0, path interiors 0, tails lower the hub") {
    // K3 {1,2,3} with a pendant 4 attached to 3; plus path 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("s", "d")
    val cc = graft.operators.Graph.clusteringCoefficients(edges, "s", "d")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cc(1L) === ((2L, 1L, 1.0)))
    assert(cc(2L) === ((2L, 1L, 1.0)))
    // hub 3: degree 3, one triangle of three possible pairs → 1/3
    assert(cc(3L)._1 === 3L && math.abs(cc(3L)._3 - 1.0 / 3) < 1e-12)
    assert(cc(4L) === ((1L, 0L, 0.0)))   // pendant: degree 1 pins to 0
    assert(cc(11L) === ((2L, 0L, 0.0)))  // path interior: no closure
  }

  // --------------------------------------------- label propagation

  test("labelPropagation: bridged triangles settle into two communities") {
    // K3 {1,2,3} — 3—4 bridge — K3 {4,5,6}; hand-simulated 3 rounds of
    // neighbor-majority with min-label ties: {1,2,3}→1, {4,5,6}→3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("s", "d")
    val got = graft.operators.Graph.labelPropagation(edges, "s", "d", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation: a reverse-duplicate edge must not double a vote") {
    // (1,3) and (3,1) are the same undirected edge; node 1's round-1
    // vote is a {2,3} tie → min label 2, not 3
    val edges = Seq((1L, 2L), (1L, 3L), (3L, 1L)).toDF("s", "d")
    val got = graft.operators.Graph.labelPropagation(edges, "s", "d", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 2L, s"got $got")
  }

  test("labelPropagation round 0 is the identity labeling") {
    val edges = Seq((7L, 8L)).toDF("s", "d")
    val got = graft.operators.Graph.labelPropagation(edges, "s", "d", rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(7L -> 7L, 8L -> 8L))
  }

  // --------------------------------------------- int8 quantization

  test("quantizeInt8Audit: scale/max_q/error bound, zero vector exact") {
    val emb = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.quantizeInt8Audit(emb)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    val (n1, scale1, maxQ1, err1) = out(1L)
    assert(n1 === 4L && maxQ1 === 127L)
    assert(math.abs(scale1 - 1.0 / 127) < 1e-15)
    assert(err1 <= scale1 / 2 + 1e-15, s"err $err1 exceeds half-step ${scale1 / 2}")
    assert(out(2L) === ((4L, 0.0, 0L, 0.0)))
  }

  // ------------------------------------------------- containment

  test("containmentPairs loses no pairs vs brute force") {
    // random token soups with heavy overlap so containment pairs exist
    // at several thresholds; brute force = definition over 3-shingles
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val texts = Seq.tabulate(40) { i =>
      val n = 6 + rnd.nextInt(20)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = texts.map { case (id, t) => id -> shingles(t) }.toMap
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val brute = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        common = (sa intersect sb).size
        if common.toDouble / sa.size >= t
      } yield (a, b)).toSet
      val got = graft.operators.NearDup.containmentPairs(docs, t,
          maxShingleDf = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === brute,
        s"threshold $t: missing=${brute -- got} extra=${got -- brute}")
    }
  }

  test("containmentPairs: quote fully inside a long doc scores 1 one-way only") {
    val quote = "alpha beta gamma delta epsilon"
    val long = s"intro words here $quote trailing content words beyond"
    val docs = Seq((1L, quote), (2L, long),
      (3L, "unrelated body of totally different tokens")).toDF("doc_id", "text")
    val got = graft.operators.NearDup.containmentPairs(docs,
        minContainment = 0.9, maxShingleDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(got.keySet === Set((1L, 2L)), s"got $got") // directional: only quote→doc
    assert(got((1L, 2L)) === 1.0)
  }

  // --------------------------------------------- multi-pattern audit

  test("multiPatternAudit counts every category from one scan, zero-hit rows kept") {
    val docs = Seq(
      (1L, "customer 42 has order 7", "a"),
      (2L, "no digits here at all", "a"),
      (3L, "supplier 1 2 3", "b"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.multiPatternAudit(docs, Seq(
        "entity" -> "\\b(customer|order|supplier)\\b",
        "number" -> "\\b[0-9]+\\b"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("a", "entity")) === ((1L, 2L)))  // doc 1 only: customer + order
    assert(got(("a", "number")) === ((1L, 2L)))  // doc 1 only: 42 and 7
    assert(got(("b", "entity")) === ((1L, 1L)))
    assert(got(("b", "number")) === ((1L, 3L)))
  }

  // ------------------------------------------------------ KMV sketch

  test("kmvDistinct is exact below k and ~accurate above k") {
    val below = (1 to 50).map(i => ("g", s"item$i")).toDF("grp", "item")
    val ex = Aggregates.kmvDistinct(below, "grp", col("item"), k = 256)
      .select("n_hashes", "est_distinct").head()
    assert(ex.getLong(0) === 50L && ex.getDouble(1) === 50.0)

    val big = (1 to 20000).map(i => ("g", s"item$i")).toDF("grp", "item")
    val est = Aggregates.kmvDistinct(big, "grp", col("item"), k = 256)
      .select("est_distinct").head().getDouble(0)
    // k = 256 → relative error ~ 1/√k ≈ 6%; allow 3σ
    assert(math.abs(est - 20000.0) / 20000.0 < 0.20, s"estimate $est")
  }

  // ------------------------------------------- exact higher moments

  test("higherMoments matches hand-computed skew/kurtosis") {
    // {1,2,3,4,10}: mean 4; central moments m2 = 10, m3 = 36, m4 = 278.8
    // skew = 36/10^1.5 ≈ 1.138420, kurtosis = 278.8/100 − 3 = −0.212
    val df = Seq(1, 2, 3, 4, 10).map(("g", _)).toDF("grp", "v")
    val r = Aggregates.higherMoments(df, Seq("grp"), col("v")).head()
    assert(r.getAs[Long]("n") === 5L)
    assert(r.getAs[Double]("mean_value") === 4.0)
    assert(math.abs(r.getAs[Double]("skewness") - 1.138420) < 1e-6)
    assert(math.abs(r.getAs[Double]("kurtosis") - (-0.212)) < 1e-6)
  }

  test("higherMoments yields NULL shape stats on a constant group") {
    val df = Seq(7, 7, 7).map(("c", _)).toDF("grp", "v")
    val r = Aggregates.higherMoments(df, Seq("grp"), col("v")).head()
    assert(r.getAs[Double]("mean_value") === 7.0)
    assert(r.isNullAt(r.fieldIndex("skewness")))
    assert(r.isNullAt(r.fieldIndex("kurtosis")))
  }

  test("higherMoments fails loudly outside its exact domain") {
    // non-integral: would truncate (Spark) vs round (DuckDB) — refuse
    val frac = Seq(("g", 10.7), ("g", 2.0)).toDF("grp", "v")
    val e1 = intercept[Exception] {
      Aggregates.higherMoments(frac, Seq("grp"), col("v")).collect()
    }
    assert(e1.getMessage.contains("higherMoments") ||
      e1.getCause.getMessage.contains("higherMoments"))
    // |v| > 55000: v^4 would wrap past Long.Max silently — refuse
    val big = Seq(("g", 100000.0), ("g", 1.0)).toDF("grp", "v")
    val e2 = intercept[Exception] {
      Aggregates.higherMoments(big, Seq("grp"), col("v")).collect()
    }
    assert(e2.getMessage.contains("higherMoments") ||
      e2.getCause.getMessage.contains("higherMoments"))
    // nulls stay in-domain (skipped by the sums, not errors)
    val withNull = Seq(("g", Some(3.0)), ("g", None), ("g", Some(5.0)))
      .toDF("grp", "v")
    val r = Aggregates.higherMoments(withNull, Seq("grp"), col("v")).head()
    assert(r.getAs[Long]("n") === 2L)  // nulls excluded from n AND sums
    assert(r.getAs[Double]("mean_value") === 4.0)
  }

  // --------------------------------- sketch exact-regime (q135 shape)

  test("percentile_approx in exact regime picks the lower-middle order statistic") {
    // accuracy >> n ⇒ GK rank error < 1 row ⇒ a true order statistic;
    // even-n median takes the LOWER middle — the convention DuckDB's
    // quantile_disc shares, which is what makes the q135 oracle exact
    val even = Seq(1.0, 2.0, 3.0, 4.0).map(("g", _)).toDF("grp", "v")
    val odd = Seq(1.0, 2.0, 3.0).map(("g", _)).toDF("grp", "v")
    def p50(df: org.apache.spark.sql.DataFrame) = df.groupBy("grp")
      .agg(percentile_approx(col("v"), lit(0.5), lit(2000000)).as("p"))
      .head().getDouble(1)
    assert(p50(even) === 2.0)
    assert(p50(odd) === 2.0)
  }

  // ----------------------------- distribution-position windows (q134)

  test("ntile/percent_rank/cume_dist are deterministic under a unique total order") {
    import org.apache.spark.sql.expressions.Window
    // 6 rows, tied values (5.0 × 3) — tie broken by id, so ntile(4)
    // buckets are fixed: sizes 2,2,1,1 over ids ordered (3,1,5),(2,6),(4)
    val df = Seq((1L, 5.0), (2L, 7.0), (3L, 1.0), (4L, 9.0), (5L, 5.0), (6L, 5.0))
      .toDF("id", "v")
    val w = Window.orderBy(col("v").asc, col("id").asc)
    val got = df.select(col("id"), ntile(4).over(w).as("q"),
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // order: id3(1.0), id1(5.0), id5(5.0), id6(5.0), id2(7.0), id4(9.0)
    assert(got(3L) === ((1, 0.0, 1.0 / 6)))
    assert(got(1L) === ((1, 1.0 / 5, 2.0 / 6)))
    assert(got(5L) === ((2, 2.0 / 5, 3.0 / 6)))
    assert(got(6L) === ((2, 3.0 / 5, 4.0 / 6)))
    assert(got(2L) === ((3, 4.0 / 5, 5.0 / 6)))
    assert(got(4L) === ((4, 1.0, 1.0)))
  }
}
