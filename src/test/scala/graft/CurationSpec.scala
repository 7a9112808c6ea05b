package graft

import org.apache.spark.sql.functions._

import graft.queries.CurationQueries

/** Structural invariants of the curation queries (the value-level gate
  * is the driver's DuckDB hash compare; these pin the properties that
  * a hash can't express: flag consistency, rank shapes, rate bounds).
  */
class CurationSpec extends SparkSpec {

  private def run(name: String) =
    CurationQueries.queries(name)(spark, sfDir)

  test("repetition keep flag is exactly the threshold conjunction") {
    val out = run("q_repetition").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val expect = r.getAs[Double]("dup_token_frac") <= 0.65 &&
        r.getAs[Double]("top_bigram_frac") <= 0.08 &&
        r.getAs[Double]("dup_trigram_frac") <= 0.0
      assert(r.getAs[Boolean]("keep") == expect)
    }
    // fractions are fractions
    out.foreach { r =>
      assert(r.getAs[Double]("dup_token_frac") >= 0.0 &&
        r.getAs[Double]("dup_token_frac") <= 1.0)
      assert(r.getAs[Double]("top_bigram_frac") >= 0.0 &&
        r.getAs[Double]("top_bigram_frac") <= 1.0)
    }
  }

  test("boilerplate flag tracks n_boiler and frac stays in [0,1]") {
    val out = run("q_boilerplate").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("flag") == (r.getAs[Long]("n_boiler") >= 5))
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_shingles"))
      val f = r.getAs[Double]("boiler_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("calibrated cut keeps about half of every language") {
    val out = run("q_quality_calibrated")
    val byLang = out.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      .collect()
    byLang.foreach { r =>
      val frac = r.getAs[Long]("kept").toDouble / r.getAs[Long]("n")
      // a median cut keeps [1/2, ~all-ties]; require a sane band
      assert(frac >= 0.4 && frac <= 0.75,
        s"${r.getAs[String]("lang")} kept $frac")
    }
  }

  test("tfidf emits exactly ranks 1..10 per language, scores descend") {
    val out = run("q_tfidf_keywords").collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10),
        s"ranks wrong for $lang")
      val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score_q"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hashed_bow kernel equals the exploded-grouping formulation") {
    import graft.functions._
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val fromKernel = d
      .select(col("doc_id"), hashed_bow(tokenize_ws(col("text")), 64).as("v"))
      .select(col("doc_id"), posexplode(col("v")))
      .filter(col("col") =!= 0.0)
      .select(col("doc_id"), col("pos").cast("long").as("bucket"),
        col("col").cast("long").as("weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fromRows = CurationQueries.queries("q_feature_hash")(spark, sfDir)
      .filter(col("weight") =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(fromKernel == fromRows)
  }

  test("hashed_bow: near-identical texts have high cosine, unrelated low") {
    import graft.functions._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy cat near the river bank"),
      (3L, "completely unrelated words about spark shuffle partitions exchange"))
      .toDF("id", "text")
    val v = docs.select(col("id"), hashed_bow(tokenize_ws(col("text")), 64).as("v"))
    val sims = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        cosine_sim(col("a.v"), col("b.v")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims((1L, 2L)) > 0.8, s"near-dup cosine ${sims((1L, 2L))}")
    assert(sims((1L, 3L)) < 0.5, s"unrelated cosine ${sims((1L, 3L))}")
  }

  test("leakage-safe split: clusters move atomically, singletons split too") {
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // components {1,2,3}, {4,5}; 6..12 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_id1", "doc_id2")
    val out = graft.operators.Curate.leakageSafeSplit(docs, "doc_id", pairs,
      Seq(("train", 0.5), ("val", 0.25), ("test", 0.25))).collect()
    assert(out.length == 12)
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster"), r.getAs[String]("split"))).toMap
    // cluster atomicity: the whole component shares cluster AND split
    assert(Seq(1L, 2L, 3L).map(byId(_)).distinct.size == 1)
    assert(Seq(4L, 5L).map(byId(_)).distinct.size == 1)
    assert(byId(1L)._1 == 1L && byId(4L)._1 == 4L)
    // singletons are their own cluster
    (6L to 12L).foreach(i => assert(byId(i)._1 == i))
    // assignment is the pure md5-threshold function of the cluster key
    val md5Of = docs.sparkSession.range(1)
      .select((1L to 12L).map(i =>
        substring(md5(lit(i.toString)), 1, 4).as(s"h$i")): _*).head
    (6L to 12L).foreach { i =>
      val h = md5Of.getAs[String](s"h$i")
      val expect = if (h < "8000") "train" else if (h < "c000") "val" else "test"
      assert(byId(i)._2 == expect, s"doc $i bucket $h")
    }
    // reserved output columns fail loudly
    intercept[IllegalArgumentException] {
      graft.operators.Curate.leakageSafeSplit(
        docs.withColumn("split", lit("x")), "doc_id", pairs,
        Seq(("a", 1.0)))
    }
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      graft.operators.Curate.leakageSafeSplit(docs, "doc_id", pairs,
        Seq(("a", 0.5), ("b", 0.2)))
    }
  }

  test("mix target never keeps more than it saw; clamped langs keep all") {
    val out = run("q_mix_target").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      if (r.getAs[String]("thr_hex") == "zzzz")
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs"))
    }
  }

  test("temperature mix flattens shares toward low-resource groups") {
    import spark.implicits._
    import graft.operators.Curate
    // 900 vs 100 rows: plain proportional sampling keeps 9:1; at
    // alpha=0.5 the weight ratio is sqrt(900):sqrt(100) = 3:1, so the
    // small group's RATE must exceed the large group's.
    val df = ((1 to 900).map(i => (s"a$i", "big")) ++
      (1 to 100).map(i => (s"b$i", "small"))).toDF("txt", "grp")
    val thr = Curate.temperatureThresholds(df, "grp", targetFraction = 0.5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // replicate the arithmetic exactly
    def w(n: Long) = math.floor(math.sqrt(n.toDouble) * 1048576.0).toLong
    val (sw, tt) = (w(900) + w(100), 1000L)
    def rate(n: Long) = math.min(1.0, 0.5 * tt / sw * w(n) / n)
    def hx(r: Double) =
      if (r >= 1.0) "zzzz" else f"${math.floor(r * 65536).toInt}%04x"
    assert(thr("big") == hx(rate(900)))
    assert(thr("small") == hx(rate(100)))
    // flattening: small group sampled at a strictly higher rate
    assert(rate(100) > rate(900))
    // and the query's realized counts respect the thresholds
    val out = run("q_mix_temperature").collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs")))
    intercept[IllegalArgumentException] {
      Curate.temperatureThresholds(df, "grp", targetFraction = 0.0)
    }
  }

  test("compressibility signal: repetitive text compresses far below varied text") {
    import spark.implicits._
    import graft.functions.{gzip_compress, round_portable}
    val docs = Seq(
      (1L, Seq.fill(200)("spam").mkString(" ")),
      (2L, (1 to 200).map(i => s"w${i * 7919 % 1000}x$i").mkString(" "))
    ).toDF("doc_id", "text")
    def ratios(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), round_portable(
        length(gzip_compress(col("text").cast("binary"))).cast("double") /
          length(col("text")), 4).as("ratio"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r = ratios(docs)
    assert(r(1L) < 0.1, s"repetitive text ratio ${r(1L)} not << 1")
    assert(r(2L) > r(1L) * 3, s"varied ${r(2L)} vs repetitive ${r(1L)}")
    // deterministic across partitionings (same bytes per row)
    assert(ratios(docs.repartition(5)) == r)
  }

  test("quality score penalizes stopword-stuffed spam below normal prose") {
    import spark.implicits._
    val spam = Array.fill(64)("the").mkString(" ")
    // >= 64 tokens so both texts saturate the length term — the
    // comparison isolates the stopword band
    val prose = ("the quick brown fox jumps over a lazy dog and runs to " +
      "the river where it drinks in peace before the long night falls " +
      "on the quiet valley and every bird settles into its warm nest " +
      "while the moon rises slowly over the sleeping hills far away ") * 2
    val scores = Seq((1L, spam), (2L, prose)).toDF("id", "text")
      .select(col("id"), graft.functions.quality_score(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) < scores(2L),
      s"stopword spam ${scores(1L)} must score below prose ${scores(2L)}")
  }

  test("dsir: target slice dominates, planted twin ranks by distribution") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = table("documents")
    val scored = Curate.dsirScores(docs, "doc_id", "text",
      col("lang") === "en", buckets = 1024)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    // the exemplar slice itself must score higher ON AVERAGE than the
    // rest — the minimum sanity bar for an importance model
    val means = scored
      .groupBy(col("lang") === "en").agg(avg(col("score_q")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"en mean ${means(true)} must exceed non-target mean ${means(false)}")
    // partitioning invariance (integer arithmetic end to end)
    val a = Curate.dsirScores(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = Curate.dsirScores(docs.repartition(7), "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b, "dsir scores changed under repartitioning")
    // planted pair: a doc stitched from target-corpus text must outscore
    // an off-distribution symbol-soup twin under the en-target model
    val enText = docs.filter(col("lang") === "en")
      .orderBy("doc_id").limit(2)
      .collect().map(_.getAs[String]("text")).mkString(" ")
    val planted = docs.select(col("doc_id"), col("text"))
      .union(Seq((900001L, enText), (900002L, "qzx9 #!@ vvv kkk 77zz"))
        .toDF("doc_id", "text"))
    val enIds = docs.filter(col("lang") === "en").orderBy("doc_id").limit(50)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val p = Curate.dsirScores(planted, "doc_id", "text",
        col("doc_id").isin(enIds: _*))
      .filter(col("doc_id") >= 900001L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p(900001L) > p(900002L),
      s"target-stitched ${p(900001L)} must outscore symbol soup ${p(900002L)}")
    // an empty target set must fail loudly, not score everything neutral
    val err = intercept[IllegalArgumentException] {
      Curate.dsirModel(docs, "doc_id", "text", lit(false))
    }
    assert(err.getMessage.contains("target set selects no feature mass"))
    // null text is featureless, not a crash
    val withNull = Seq((1L, "the a doc"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nm = Curate.dsirScores(withNull, "doc_id", "text", col("doc_id") === 1L)
      .collect().map(_.getLong(0)).toSet
    assert(nm == Set(1L), "null-text docs drop out of scoring without error")
  }

  test("isotonic fit: textbook PAV pooling, weighted pools, monotone identity") {
    import graft.operators.Curate
    // violator pair pools: rates (0.3, 0.1, 0.4) with equal weight 10
    // -> PAV pools bins 0-1 to 0.2, leaves 0.4
    val f1 = Curate.isotonicFit(IndexedSeq(
      (0L, 10L, 3L), (1L, 10L, 1L), (2L, 10L, 4L)))
    assert(f1.map(_._5) == IndexedSeq(200000L, 200000L, 400000L), s"$f1")
    assert(f1.map(_._4) == IndexedSeq(300000L, 100000L, 400000L))
    // weighted pooling: (0.5 w=1, 0.0 w=3) pools to 1 pos / 4 = 0.25
    val f2 = Curate.isotonicFit(IndexedSeq((0L, 1L, 1L), (1L, 3L, 0L)))
    assert(f2.map(_._5) == IndexedSeq(250000L, 250000L), s"$f2")
    // already-monotone input is a fixed point
    val mono = IndexedSeq((0L, 5L, 1L), (1L, 5L, 2L), (2L, 5L, 4L))
    val f3 = Curate.isotonicFit(mono)
    assert(f3.map(_._5) == f3.map(_._4), s"monotone input must not move: $f3")
    // cascade: strictly decreasing rates pool into ONE block at the
    // global rate
    val f4 = Curate.isotonicFit(IndexedSeq(
      (0L, 10L, 9L), (1L, 10L, 5L), (2L, 10L, 1L)))
    assert(f4.map(_._5).distinct == IndexedSeq(500000L), s"$f4")
    // the end-to-end fit is monotone and pools the corpus's violators
    val scored = table("documents")
      .select(abs(xxhash64(col("text")) % 1000000).cast("long").as("p"),
        (col("lang") === "en").as("y"))
    val fit = Curate.isotonicCalibrate(scored, "p", "y", buckets = 8)
      .orderBy("bin").collect().map(_.getLong(4)).toSeq
    assert(fit == fit.sorted, s"iso_ppm must be monotone: $fit")
    intercept[IllegalArgumentException] {
      Curate.isotonicCalibrate(scored, "p", "y", buckets = 100)
    }
  }

  test("isotonic apply: step lookup, empty-bin densification, monotone serve") {
    import spark.implicits._
    import graft.operators.Curate
    // a fit with HOLES: bins 1 and 3 of 5 were never populated on the
    // calibration fold — scores landing there must take the nearest
    // fitted bin BELOW (step functions extend right), scores below
    // the first fitted bin take the first fitted value
    val fit = Seq((0L, 10L, 1L, 100000L, 100000L),
        (2L, 10L, 3L, 300000L, 300000L),
        (4L, 10L, 8L, 800000L, 800000L))
      .toDF("bin", "n", "n_pos", "raw_ppm", "iso_ppm")
    // one score per serve bin: 0..4 (bin = p*5 div 1e6)
    val scored = Seq((1L, 100000L), (2L, 300000L), (3L, 500000L),
        (4L, 700000L), (5L, 900000L)).toDF("id", "p")
    val out = Curate.isotonicApply(scored, "p", fit, buckets = 5)
      .select("id", "cal_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 100000L, 2L -> 100000L, 3L -> 300000L,
      4L -> 300000L, 5L -> 800000L),
      s"step lookup with holes: $out")
    // no rows dropped (the empty-bin inner-join failure mode) and the
    // served value is monotone in the score
    assert(out.size == 5, "apply must keep every scored row")
    val served = scored.orderBy("p").collect().map(_.getLong(1))
      .map(p => out(scored.filter(col("p") === p).head().getLong(0)))
    assert(served.toSeq == served.toSeq.sorted, "serve must stay monotone")
    // p = exactly 1e6 caps into the last bin, never a lost row
    val cap = Curate.isotonicApply(Seq((9L, 1000000L)).toDF("id", "p"),
      "p", fit, buckets = 5).select("cal_ppm").head().getLong(0)
    assert(cap == 800000L, s"score 1e6 must cap into the last bin: $cap")
  }

  test("conformal audit: hand-computed thresholds, ceil-div k, include-always fallback") {
    import spark.implicits._
    import graft.operators.Curate
    // calibration (id even): pos p = {9,8,7,6,5}·10⁵ → s_pos =
    // {1,2,3,4,5}·10⁵ (n=5); neg p = {1,2}·10⁵ → s_neg = {1,2}·10⁵
    // (n=2). test (id odd): pos p = {8.5, 3.5}·10⁵, neg p = {1.5,
    // 4.5}·10⁵.
    val rows = Seq(
      (2L, 900000L, true), (4L, 800000L, true), (6L, 700000L, true),
      (8L, 600000L, true), (10L, 500000L, true),
      (12L, 100000L, false), (14L, 200000L, false),
      (1L, 850000L, true), (3L, 350000L, true),
      (5L, 150000L, false), (7L, 450000L, false))
      .toDF("id", "p_ppm", "is_en")
    val out = Curate.conformalAudit(rows, "p_ppm", "is_en",
        col("id") % 2 === 0, alphasPm = Seq(100, 400))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.toSeq).toMap
    // α=40%: k_pos = ⌈6·0.6⌉ = 4 → t = 400000; k_neg = ⌈3·0.6⌉ = 2
    // → t = 200000. Each class covers 1 of its 2 test rows; exactly
    // one of the 4 test rows lands in each class's set.
    assert(out((400L, "pos")) ==
      Seq(400L, "pos", 5L, 400000L, 2L, 1L, 500000L, 1L),
      s"${out((400L, "pos"))}")
    assert(out((400L, "neg")) ==
      Seq(400L, "neg", 2L, 200000L, 2L, 1L, 500000L, 1L),
      s"${out((400L, "neg"))}")
    // α=10%: k_pos = ⌈6·0.9⌉ = 6 > 5 and k_neg = 3 > 2 → both
    // thresholds go include-always (10⁶+1): full coverage, set size 2
    assert(out((100L, "pos")) ==
      Seq(100L, "pos", 5L, 1000001L, 2L, 2L, 1000000L, 4L),
      s"${out((100L, "pos"))}")
    assert(out((100L, "neg")) ==
      Seq(100L, "neg", 2L, 1000001L, 2L, 2L, 1000000L, 4L),
      s"${out((100L, "neg"))}")
    // partition invariance
    val a = Curate.conformalAudit(rows, "p_ppm", "is_en",
      col("id") % 2 === 0).orderBy("alpha_pm", "cls").collect().map(_.toSeq)
    val b = Curate.conformalAudit(rows.repartition(7), "p_ppm", "is_en",
      col("id") % 2 === 0).orderBy("alpha_pm", "cls").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "conformal audit changed under repartitioning")
  }

  test("CV AUC: hand-computed folds, jackknife deviations, degenerate-fold guard") {
    import spark.implicits._
    import graft.operators.Curate
    // fold 0: perfect ranking (AUC 1), fold 1: perfectly inverted
    // (AUC 0) → S = 10⁶, mean 500000, dev2 = (2·auc − S)² = 10¹² each
    val rows = Seq(
      (0L, 3L, true), (0L, 4L, true), (0L, 1L, false), (0L, 2L, false),
      (1L, 1L, true), (1L, 2L, true), (1L, 3L, false), (1L, 4L, false))
      .toDF("f", "score", "y")
    val out = Curate.aucCrossValidated(rows, "score", "y", col("f"))
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(out(0L) == Seq(0L, 2L, 2L, 1000000L, 1000000000000L), s"${out(0L)}")
    assert(out(1L) == Seq(1L, 2L, 2L, 0L, 1000000000000L), s"${out(1L)}")
    assert(out(-1L) == Seq(-1L, 4L, 4L, 500000L, 2000000000000L),
      s"${out(-1L)}")
    // identical folds: zero deviation everywhere
    val same = Seq(
      (0L, 2L, true), (0L, 1L, false), (1L, 2L, true), (1L, 1L, false))
      .toDF("f", "score", "y")
    val so = Curate.aucCrossValidated(same, "score", "y", col("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(so.values.forall(_ == 0L), s"$so")
    // a fold with one class only must fail loudly, not emit null
    val degen = Seq((0L, 2L, true), (0L, 1L, false), (1L, 2L, true))
      .toDF("f", "score", "y")
    val err = intercept[IllegalArgumentException] {
      Curate.aucCrossValidated(degen, "score", "y", col("f")).collect()
    }
    assert(err.getMessage.contains("degenerate"))
  }

  test("vocabulary completeness: textbook Good-Turing and Chao1 values") {
    import spark.implicits._
    import graft.operators.Curate
    // "a a b": N=3, V=2, f1=1, f2=1 → unseen 333333 ppm, chao1 = 2
    // (f1(f1−1) = 0); "x y z": all singletons → unseen = 10⁶,
    // chao1 = 3 + 3·2/(2·1) = 6 (the f2 = 0 case stays defined)
    val docs = Seq(("g1", "a a b"), ("g2", "x y z"),
      ("g3", null.asInstanceOf[String]), ("g3", "k k"))
      .toDF("grp", "text")
    val out = Curate.vocabCompleteness(docs, "grp", "text")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(out("g1") == Seq(3L, 2L, 1L, 1L, 333333L, 2L), s"${out("g1")}")
    assert(out("g2") == Seq(3L, 3L, 3L, 0L, 1000000L, 6L), s"${out("g2")}")
    // null text contributes nothing; the doubleton-only group has
    // zero unseen mass and chao1 = V
    assert(out("g3") == Seq(2L, 1L, 0L, 1L, 0L, 1L), s"${out("g3")}")
    // statistics are additive: repartitioning never moves them
    val a = Curate.vocabCompleteness(docs.repartition(7), "grp", "text")
      .orderBy("grp").collect().map(_.toSeq)
    val b = Curate.vocabCompleteness(docs, "grp", "text")
      .orderBy("grp").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("wide bucket tables avoid the single-task funnel (plan-asserted)") {
    import spark.implicits._
    import graft.operators.Curate
    // r14 verdict item 7: an unconditional coalesce(1) on the pinned
    // bucket table was a hidden width ceiling — a 2048-bucket build
    // must run >1 task, while the default 1024 keeps the one-block
    // cheap path. pinBuckets is the shared pin for dsirModel and
    // profileDrift; assert its partition scaling directly.
    val b = Seq.tabulate(4096)(i => (i.toLong % 2048, 1L)).toDF("f", "cnt")
    assert(Curate.pinBuckets(b, 1024).rdd.getNumPartitions == 1,
      "default-width profiles still collapse to one block")
    assert(Curate.pinBuckets(b, 2048).rdd.getNumPartitions == 2,
      "a 2x-wider profile must not serialize into one task")
    // coalesce only lowers parallelism — on an upstream shuffle (the
    // real groupBy("f") shape) a 100x width keeps all its tasks
    assert(Curate.pinBuckets(b.repartition(64, col("f")), 1024 * 100)
        .rdd.getNumPartitions >= 32,
      "a 100x-wider profile scales out")
    // end-to-end: a 2048-bucket model trains and scores; the model is
    // invariant to input partitioning at the wide width too
    val docs = table("documents").limit(500)
    val m1 = Curate.dsirModel(docs, "doc_id", "text",
        col("lang") === "en", buckets = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val m2 = Curate.dsirModel(docs.repartition(7), "doc_id", "text",
        col("lang") === "en", buckets = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(m1 == m2 && m1.nonEmpty, "wide model not partition-invariant")
    // profileDrift at the wide width: identity drift stays zero
    val prof = Curate.corpusProfile(docs, "doc_id", "text", buckets = 2048)
    val d = Curate.profileDrift(prof, prof, widthHint = 2048).head()
    assert(d.getAs[Long]("tv_q") == 0L, "identity drift must be zero")
  }

  test("grouped dsir: each tenant's model equals a solo model on its slice") {
    import graft.operators.Curate
    val docs = table("documents")
    val grouped = Curate.dsirModelGrouped(docs, "doc_id", "text", "source",
      col("lang") === "en")
    // tenant isolation: the grouped model's rows for one source must be
    // EXACTLY the single-tenant model trained on that source alone
    val src = docs.select("source").orderBy("source").limit(1)
      .collect().head.getString(0)
    val solo = Curate.dsirModel(docs.filter(col("source") === src),
        "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slice = grouped.filter(col("grp") === src)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(slice == solo,
      s"grouped model for $src diverged from its solo-trained twin")
    // and the grouped apply reproduces the solo apply on that slice
    val soloScores = Curate.dsirScores(docs.filter(col("source") === src),
        "doc_id", "text", col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val groupedScores = Curate.dsirApplyGrouped(docs, "doc_id", "text",
        "source", grouped)
      .filter(col("grp") === src).drop("grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(groupedScores == soloScores,
      "grouped apply diverged from the solo pipeline on one tenant")
    // a group with no target docs fails loudly, naming the group
    val err = intercept[IllegalArgumentException] {
      Curate.dsirModelGrouped(docs, "doc_id", "text", "source",
        col("lang") === "en" && col("source") =!= src)
    }
    assert(err.getMessage.contains(src),
      s"error must name the empty group: ${err.getMessage}")
  }

  test("incremental dsir counts: build+append equals from-scratch exactly") {
    import graft.operators.Curate
    val docs = table("documents")
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    Curate.buildDsirCounts(a, "doc_id", "text", col("lang") === "en",
      "dsir_inc_test")
    Curate.appendDsirCounts(b, "doc_id", "text", col("lang") === "en",
      "dsir_inc_test")
    val incremental = Curate.dsirModelFromCounts(spark, "dsir_inc_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Curate.dsirModel(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental == scratch,
      "appended counts must reproduce the from-scratch model bit-exactly")
    // and scoring through the persisted model matches the one-shot path
    val viaCounts = Curate.dsirApply(docs, "doc_id", "text",
        Curate.dsirModelFromCounts(spark, "dsir_inc_test"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val oneShot = Curate.dsirScores(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(viaCounts == oneShot)
  }

  test("dsir count removal: erasure equals never-having-added, loud misuse") {
    import graft.operators.Curate
    val docs = table("documents")
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    // build over everything, then erase the odd half
    Curate.buildDsirCounts(docs, "doc_id", "text", col("lang") === "en",
      "dsir_rm_test")
    Curate.removeDsirCounts(b, "doc_id", "text", col("lang") === "en",
      "dsir_rm_test")
    val erased = Curate.dsirModelFromCounts(spark, "dsir_rm_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // must equal a model that never saw the erased half — bit-exactly
    val scratch = Curate.dsirModel(a, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(erased == scratch,
      "post-erasure model must equal the never-added model bit-exactly")
    // removing the same batch AGAIN must fail loudly, and leave the
    // committed counts untouched
    val ex = intercept[IllegalArgumentException] {
      Curate.removeDsirCounts(b, "doc_id", "text", col("lang") === "en",
        "dsir_rm_test")
    }
    assert(ex.getMessage.contains("negative"))
    val after = Curate.dsirModelFromCounts(spark, "dsir_rm_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == erased, "failed removal must not corrupt the counts")
  }

  test("corpus drift: identity zero, symmetric, profiles merge by addition") {
    import graft.operators.Curate
    val docs = table("documents")
    def prof(f: org.apache.spark.sql.DataFrame) =
      Curate.corpusProfile(f, "doc_id", "text")
    val all = prof(docs)
    // identity: a distribution has zero distance to itself
    assert(Curate.profileDrift(all, all).head().getAs[Long]("tv_q") == 0L)
    // symmetry
    val (even, odd) = (docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0))
    val ab = Curate.profileDrift(prof(even), prof(odd)).head().getAs[Long]("tv_q")
    val ba = Curate.profileDrift(prof(odd), prof(even)).head().getAs[Long]("tv_q")
    assert(ab == ba, s"TV must be symmetric: $ab vs $ba")
    // mergeability: shard profiles sum to the union's profile exactly
    val summed = prof(even).union(prof(odd))
      .groupBy("f").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = all.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(summed == direct, "profiles must merge by plain addition")
    // a language split must drift more than a random (parity) split
    val lang = Curate.profileDrift(
      prof(docs.filter(col("lang") === "en")),
      prof(docs.filter(col("lang") === "zh"))).head().getAs[Long]("tv_q")
    assert(lang > ab,
      s"en-vs-zh drift $lang must exceed the parity noise floor $ab")
  }

  test("gopher_stats kernel matches the higher-order builtin composition") {
    import spark.implicits._
    val docs = table("documents").select(col("doc_id"), col("text"))
      .union(Seq(
        (800001L, ""), (800002L, "   "), (800003L, "-x\n*y\nz...\n\nplain"),
        (800004L, "# ... #### a...b the the a"),
        (800005L, "one\ntwo"))
        .toDF("doc_id", "text"))
    val stops = Seq("the", "a")
    val stopArr = array(stops.map(lit): _*)
    val viaKernel = docs
      .select(col("doc_id"),
        graft.functions.gopher_stats(coalesce(col("text"), lit("")), stopArr).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val w = graft.functions.tokenize_ws(coalesce(col("text"), lit("")))
    val lines = split(coalesce(col("text"), lit("")), "\n")
    val viaBuiltins = docs.select(col("doc_id"), array(
        size(w).cast("long"),
        expr("aggregate(transform(filter(split(coalesce(text, ''), ' '), x -> length(x) > 0), x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)"),
        size(filter(w, x => x.rlike("[A-Za-z]"))).cast("long"),
        (size(filter(w, x => x === "#")) +
          size(filter(w, x => x.endsWith("...")))).cast("long"),
        size(filter(stopArr, s => array_contains(w, s))).cast("long"),
        size(lines).cast("long"),
        size(filter(lines, l => l.startsWith("-") || l.startsWith("*"))).cast("long"),
        size(filter(lines, l => l.endsWith("..."))).cast("long")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    viaBuiltins.foreach { case (id, exp) =>
      assert(viaKernel(id) == exp,
        s"doc $id: kernel ${viaKernel(id)} != builtins $exp")
    }
  }

  test("gopher rules: each pathological doc trips exactly its rule") {
    import spark.implicits._
    import graft.operators.Curate
    val good = (("the quick brown fox jumps over a lazy dog and then " +
      "runs to the wide river bank where it drinks ") * 3).trim // 60 words
    val docs = Seq(
      (1L, good),                                       // passes all
      (2L, "the a short doc"),                          // too few words
      (3L, Array.fill(60)("# the a word").mkString(" ")), // symbol-heavy
      (4L, (1 to 60).map(_ => "zz...").mkString(" ")),  // no stopwords+sym
      (5L, good.split(' ').map(w => "- " + w).mkString("\n")), // bullets
      (6L, Array.fill(60)("x").mkString(" "))           // mean wordlen < 3
    ).toDF("doc_id", "text")
    val f = Curate.gopherFlags(docs, "doc_id", "text",
        stopWords = Seq("the", "a"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(1L).getAs[Long]("keep") == 1L, "clean doc must pass")
    assert(f(2L).getAs[Long]("ok_words") == 0L)
    assert(f(3L).getAs[Long]("ok_symbols") == 0L,
      "every 4th token '#' must trip the symbol rule")
    assert(f(4L).getAs[Long]("ok_stopwords") == 0L)
    assert(f(5L).getAs[Long]("ok_lines") == 0L,
      "all-bullet lines must trip the line rule")
    assert(f(6L).getAs[Long]("ok_wordlen") == 0L)
    // flags are observability: rejected docs still carry every column
    assert(f.values.forall(_.schema.fieldNames.contains("ok_alpha")))
  }

  test("blocklist: hit accounting and the C4 zero-tolerance keep") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "bad apple bad apple"),     // repeated hit, one distinct term
      (3L, "one bad token and worse"), // two distinct terms
      (4L, ""),                        // empty doc: keep, no div-by-zero
      (5L, "worse and worse again")
    ).toDF("doc_id", "text")
    val out = Curate.blocklistFlags(docs, "doc_id", "text",
        Seq("bad", "worse"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_hits") == 0L &&
      out(1L).getAs[Long]("keep") == 1L)
    assert(out(2L).getAs[Long]("n_hits") == 2L &&
      out(2L).getAs[Long]("n_distinct_hits") == 1L &&
      out(2L).getAs[Long]("keep") == 0L &&
      out(2L).getAs[Long]("hits_per_mille") == 500L)
    assert(out(3L).getAs[Long]("n_distinct_hits") == 2L &&
      out(3L).getAs[Long]("keep") == 0L)
    assert(out(4L).getAs[Long]("n_tokens") == 0L &&
      out(4L).getAs[Long]("hits_per_mille") == 0L &&
      out(4L).getAs[Long]("keep") == 1L)
    assert(out(5L).getAs[Long]("n_hits") == 2L &&
      out(5L).getAs[Long]("n_distinct_hits") == 1L)
    // partitioning invariance: map-side op, any layout agrees
    val re = Curate.blocklistFlags(docs.repartition(7), "doc_id", "text",
        Seq("bad", "worse"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(out.keys.forall(k => re(k) == out(k).toSeq))
  }

  test("per-language blocklists: each row pays only its own list") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = Seq(
      (1L, "en", "slow day"),     // en list hits 'slow'
      (2L, "de", "slow day"),     // de list is 'window': clean
      (3L, "de", "window shut"),  // de hits its own list
      (4L, "fr", "stream flow"),  // unlisted lang -> default hits
      (5L, "fr", "calm river")    // default clean
    ).toDF("doc_id", "lang", "text")
    val out = Curate.blocklistFlagsByLang(docs, "doc_id", "text", "lang",
        Map("en" -> Seq("slow", "stream"), "de" -> Seq("window")),
        default = Seq("stream"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("keep") == 0L)
    assert(out(2L).getAs[Long]("keep") == 1L,
      "another language's term must not flag a de doc")
    assert(out(3L).getAs[Long]("keep") == 0L)
    assert(out(4L).getAs[Long]("keep") == 0L,
      "unlisted lang must fall back to the default list")
    assert(out(5L).getAs[Long]("keep") == 1L)
    // per-slice parity with the solo operator
    val solo = Curate.blocklistFlags(docs.filter(col("lang") === "de"),
        "doc_id", "text", Seq("window"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits"))
      .toMap
    assert(solo.forall { case (id, h) =>
      out(id).getAs[Long]("n_hits") == h })
  }

  test("join-path blocklist equals the kernel path row for row") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = table("documents")
    val terms = Seq("slow", "stream", "absent_term").toDF("term")
    val viaJoin = Curate.blocklistFlagsJoin(docs, "doc_id", "text",
        terms, "term")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    val viaKernel = Curate.blocklistFlags(docs, "doc_id", "text",
        Seq("slow", "stream", "absent_term"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
    assert(viaJoin.size == viaKernel.size)
    assert(viaKernel.forall { case (id, row) => viaJoin(id) == row },
      "vocabulary-scale join path diverged from the kernel path")
    // plan contract: the membership probe broadcasts, never sort-merges
    val plan = Curate.blocklistFlagsJoin(docs, "doc_id", "text",
        terms, "term")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("marker_counts kernel matches the per-list higher-order composition") {
    import spark.implicits._
    import graft.functions.{marker_counts, tokenize_ws}
    // overlapping lists (one token in two lists exercises the bitmask),
    // empties, non-ascii, exact-match-only semantics
    val lists = Seq(Seq("the", "and", "shared"), Seq("der", "und", "shared"),
      Seq("naïve"))
    val docs = Seq(
      (1L, "the and the shared x"),
      (2L, "der und  shared"),
      (3L, ""), (4L, "   "),
      (5L, "naïve the-prefix und ands"),
      (6L, "shared shared shared")
    ).toDF("doc_id", "text")
    val toks = tokenize_ws(col("text"))
    val hof = lists.map(l =>
      size(filter(toks, t => t.isin(l.map(lit(_)): _*))).cast("long"))
    val both = docs.select(col("doc_id"),
        marker_counts(col("text"), lists).as("k"),
        array(hof: _*).as("b"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"kernel/builtin divergence on doc ${r.getLong(0)}")
    }
    // plan honesty: the kernel path carries no interpreted HOF
    val plan = docs.select(marker_counts(col("text"), lists))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"),
      "marker_counts must not plan through interpreted lambdas")
  }

  test("chunk_windows kernel matches the transform-over-sequence composition") {
    import spark.implicits._
    import graft.functions.{chunk_windows, tokenize_ws}
    // the old HOF formulation, verbatim, as the reference
    def hofChunks(text: org.apache.spark.sql.Column, chunkTokens: Int,
                  overlap: Int): org.apache.spark.sql.Column = {
      val stride = chunkTokens - overlap
      val toks = tokenize_ws(text)
      val n = size(toks)
      val nChunks = greatest(lit(1L),
        floor((n - overlap + stride - 1).cast("double") / stride).cast("long"))
      transform(sequence(lit(0L), nChunks - 1), i => {
        val piece = slice(toks, (i * stride + 1).cast("int"), lit(chunkTokens))
        struct(i.as("chunk_idx"),
          concat_ws(" ", piece).as("chunk_text"),
          size(piece).cast("long").as("n_chunk_tokens"))
      })
    }
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // 10 tokens
      (2L, "one two three"),        // shorter than a chunk
      (3L, ""), (4L, "   "),        // empty / whitespace-only
      (5L, (1 to 97).map(i => s"t$i").mkString(" ")) // ragged tail
    ).toDF("doc_id", "text")
    for ((ct, ov) <- Seq((4, 0), (4, 2), (32, 8), (1, 0))) {
      val rows = docs.select(col("doc_id"),
          chunk_windows(col("text"), ct, ov).as("k"),
          hofChunks(col("text"), ct, ov).as("b"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[org.apache.spark.sql.Row](1) ===
          r.getSeq[org.apache.spark.sql.Row](2),
          s"kernel/builtin divergence on doc ${r.getLong(0)} ($ct, $ov)")
      }
    }
  }

  test("blocklist_stats kernel matches the higher-order builtin composition") {
    import spark.implicits._
    import graft.functions.{blocklist_stats, tokenize_ws}
    val terms = Seq("bad", "worse", "naïve") // incl. non-ascii membership
    val docs = Seq(
      (1L, "clean words only"),
      (2L, "bad bad worse  bad"),          // double space -> empty token
      (3L, ""), (4L, "   "),
      (5L, "naïve prefix-bad bads"),       // exact-match only, no substrings
      (6L, "worse")
    ).toDF("doc_id", "text")
    val tArr = array(terms.map(lit): _*)
    val toks = tokenize_ws(col("text"))
    val both = docs.select(col("doc_id"),
        blocklist_stats(col("text"), terms).as("k"),
        array(size(toks).cast("long"),
          size(filter(toks, t => array_contains(tArr, t))).cast("long"),
          size(array_intersect(array_distinct(toks), tArr)).cast("long"))
          .as("b"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: kernel ${r.getSeq[Long](1)} vs " +
          s"builtins ${r.getSeq[Long](2)}")
    }
  }

  test("nfc normalization: composed equals decomposed, ascii untouched") {
    import spark.implicits._
    import graft.functions.nfc_normalize
    val composed = "caf\u00e9 r\u00e9sum\u00e9"
    val decomposed = "cafe\u0301 re\u0301sume\u0301"
    val df = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"))
      .toDF("id", "t")
    val out = df.select(col("id"), nfc_normalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L),
      "composed and decomposed accents must normalize to equal bytes")
    assert(out(1L) == composed, "NFC composes, never decomposes")
    assert(out(3L) == "plain ascii")
    // idempotence
    df.select(nfc_normalize(nfc_normalize(col("t"))).as("n2"),
        nfc_normalize(col("t")).as("n1"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("tokenizer fertility: punctuation-rich group pays more per word") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = Seq(
      ("plain", "four plain words here", 21L),
      ("plain", "more plain words", 16L),
      // every word splits into letter-run + punctuation pre-tokens
      ("punct", "isn't well-formed (really?) end.", 32L),
      ("punct", "co-ordinate 3.14 x=y", 20L)
    ).toDF("lang", "text", "n_chars")
    val out = Curate.tokenizerFertility(docs, "text", "lang", "n_chars")
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    // plain prose: 1 pre-token per word exactly
    assert(out("plain").getAs[Long]("fertility_q") == 1000000L)
    assert(out("plain").getAs[Long]("ws_tokens") == 7L)
    // punctuated group: strictly more pre-tokens than words
    assert(out("punct").getAs[Long]("fertility_q") > 1000000L,
      s"punct fertility ${out("punct").getAs[Long]("fertility_q")}")
    assert(out("punct").getAs[Long]("bpe_tokens") >
      out("punct").getAs[Long]("ws_tokens"))
    // chars flow from the supplied column, not a recount
    assert(out("plain").getAs[Long]("n_chars") == 37L)
  }

  test("tokenizer fertility: cross-engine planted-row pin (exact values)") {
    // The SAME five planted rows live in tools/check_oracle.py's
    // dialect probe, which replays the q_tokenizer_fertility oracle
    // SQL over them in DuckDB against these SAME expected tuples — so
    // a dialect divergence (the r9 driver failure mode) fails locally
    // on punctuation/Unicode-rich input instead of only on the driver.
    // Keep rows + expectations in LOCKSTEP with the probe.
    import spark.implicits._
    import graft.operators.Curate
    val docs = Seq(
      (1L, "hello, world! abc123 x", "en", "a", 22L),
      (2L, "a1b2c3 ... --- e.g. 42", "en", "a", 22L),
      (3L, "中文 测试 abc, 中a1", "zh", "a", 14L),
      (4L, "", "de", "a", 0L),
      (5L, "  double  spaces  7 ", "fr", "a", 20L),
      (6L, "😀 ok 😀😀x", "es", "a", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.tokenizerFertility(docs, "text", "lang", "n_chars")
      .collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("ws_tokens"),
          r.getAs[Long]("bpe_tokens"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("fertility_q"), r.getAs[Long]("chars_per_token_q")))
      .toMap
    assert(out("de") == ((1L, 0L, 0L, 0L, 0L, 0L)))
    assert(out("en") == ((2L, 9L, 24L, 44L, 2666666L, 1833333L)))
    assert(out("es") == ((1L, 3L, 5L, 8L, 1666666L, 1600000L)))
    assert(out("fr") == ((1L, 3L, 3L, 20L, 1000000L, 6666666L)))
    assert(out("zh") == ((1L, 4L, 9L, 14L, 2250000L, 1555555L)))
  }

  test("char concentration: cross-engine planted-row pin (exact values)") {
    // SAME rows + tuples as tools/check_oracle.py's dialect probe
    // (q_char_concentration entry) — keep in LOCKSTEP. Pins the
    // codepoint rule on astral-plane text (row 6: 8 code points, not
    // 11 UTF-16 units) against both engines.
    import spark.implicits._
    val docs = Seq(
      (1L, "hello, world! abc123 x"),
      (2L, "a1b2c3 ... --- e.g. 42"),
      (3L, "中文 测试 abc, 中a1"),
      (4L, ""),
      (5L, "  double  spaces  7 "),
      (6L, "😀 ok 😀😀x")
    ).toDF("doc_id", "text")
    val out = graft.operators.Curate
      .charConcentration(docs, "doc_id", "text", 78000L, 20L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_cp"), r.getAs[Long]("n_distinct_cp"),
          r.getAs[Long]("simpson_ppm"), r.getAs[Long]("top_char_pm"),
          r.getAs[Boolean]("keep"))))
      .toMap
    assert(out(1L) == ((22L, 17L, 74380L, 136L, false)))
    assert(out(2L) == ((22L, 12L, 128099L, 227L, false)))
    assert(out(3L) == ((14L, 10L, 122448L, 214L, false)))
    assert(out(4L) == ((0L, 0L, 0L, 0L, false)))
    assert(out(5L) == ((20L, 12L, 165000L, 350L, false)))
    assert(out(6L) == ((8L, 5L, 250000L, 375L, false)))
  }

  test("preference pairs: true extremes, margin gate, tie determinism") {
    import spark.implicits._
    import graft.operators.Curate
    val out = run("q_preference_pairs").collect()
    assert(out.nonEmpty)
    // per emitted pool: chosen/rejected are the true score extremes
    val d = table("documents")
      .selectExpr("lang || '|' || source AS pool", "doc_id",
        "CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS LONG) AS sc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    out.foreach { r =>
      val pool = r.getString(0)
      val cands = d(pool)
      val maxS = cands.map(_._3).max
      val minS = cands.map(_._3).min
      assert(r.getAs[Long]("chosen_score") == maxS)
      assert(r.getAs[Long]("rejected_score") == minS)
      assert(r.getAs[Long]("margin") == maxS - minS && maxS - minS >= 10)
      // ties resolve to the lowest id
      assert(r.getAs[Long]("chosen_id") ==
        cands.filter(_._3 == maxS).map(_._2).min)
      assert(r.getAs[Long]("rejected_id") ==
        cands.filter(_._3 == minS).map(_._2).min)
    }
    // sub-margin and single-candidate pools are absent + same-doc guard
    val tiny = Seq((1L, "p1", 5L), (2L, "p1", 9L), // margin 4 < 10
      (3L, "p2", 7L), // singleton
      (4L, "p3", 0L), (5L, "p3", 40L)).toDF("doc_id", "pool", "score")
    val pairs = Curate.preferencePairs(tiny, "pool", "doc_id", "score", 10L)
      .collect()
    assert(pairs.map(_.getString(0)).toSeq == Seq("p3"))
  }

  test("corpus card: rows consistent with components, markdown renders them") {
    import graft.operators.{CorpusCard, Curate}
    val card = run("q_corpus_card").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // stats section totals equal the corpus
    val d = table("documents")
    val nDocs = card.filter(t => t._1 == "stats" && t._4 == "n_docs").map(_._5).sum
    assert(nDocs == d.count(), "stats n_docs must sum to the corpus size")
    // mixture shares sum to ~1000 per-mille (floor-div loses < nLangs)
    val shares = card.filter(_._1 == "mix").map(_._5)
    assert(shares.sum <= 1000L && shares.sum > 1000L - shares.length,
      s"mixture shares ${shares.sum} not ~1000")
    // rules section equals the standalone scorecard
    val sc = Curate.scorecard(d, "doc_id", "text", "source",
        Seq("the", "a"), Seq("slow", "stream")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("pass_all")).toMap
    card.filter(t => t._1 == "rules" && t._4 == "pass_all").foreach {
      case (_, _, src, _, v) => assert(sc(src) == v,
        s"card pass_all for $src diverges from Curate.scorecard")
    }
    // the rendered document carries every group and some real numbers
    val md = CorpusCard.markdown(
      graft.queries.CurationQueries.queries("q_corpus_card")(spark, sfDir),
      "graft-test")
    assert(md.contains("# Corpus card: graft-test"))
    Seq("## Composition", "## Language mixture", "## Rule attrition")
      .foreach(h => assert(md.contains(h), s"missing section $h"))
    card.filter(_._1 == "mix").map(_._2).foreach(lang =>
      assert(md.contains(s"| $lang |"), s"lang $lang missing from card"))
    // a concrete rules row renders with its real number
    val (_, _, src0, _, nd0) = card
      .filter(t => t._1 == "rules" && t._4 == "n_docs").head
    assert(md.contains(s"| $src0 | $nd0 |"),
      s"rules row for $src0 ($nd0 docs) not rendered")
    // the manifest-bearing release document appends shard checksums
    val manifest = graft.sources.Manifest.build(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id")
    val full = CorpusCard.markdownWithManifest(
      graft.queries.CurationQueries.queries("q_corpus_card")(spark, sfDir),
      manifest, "graft-test")
    assert(full.startsWith(md.take(40)) && full.contains("## Shard manifest"))
    val m0 = manifest.orderBy("shard").collect().head
    assert(full.contains(s"| ${m0.getAs[String]("shard")} | " +
      s"${m0.getAs[Long]("n_rows")} |"), "manifest shard row not rendered")
  }

  test("grouped corpus card: per-tenant totals, mixture, and render") {
    import graft.operators.{CorpusCard, Curate}
    val card = run("q_corpus_card_grouped").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val d = table("documents")
    // stats n_docs per tenant sums to the tenant's corpus slice
    val perTenant = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tenants = card.map(_._1).distinct
    assert(tenants.sorted.toSeq == perTenant.keys.toSeq.sorted,
      "one card per tenant")
    tenants.foreach { ten =>
      val n = card.filter(t => t._1 == ten && t._2 == "stats" &&
        t._4 == "n_docs").map(_._5).sum
      assert(n == perTenant(ten), s"tenant $ten stats n_docs != slice size")
      // mixture shares sum to ~1000 WITHIN the tenant
      val shares = card.filter(t => t._1 == ten && t._2 == "mix").map(_._5)
      assert(shares.sum <= 1000L && shares.sum > 1000L - shares.length,
        s"tenant $ten mixture ${shares.sum} not ~1000")
    }
    // rules section equals the standalone composite-key scorecard
    val sc = Curate.scorecardBy(d, "doc_id", "text", Seq("source", "lang"),
        Seq("the", "a"), Seq("slow", "stream")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("pass_all"))
      .toMap
    card.filter(t => t._2 == "rules" && t._4 == "pass_all").foreach {
      case (ten, _, lang, _, v) => assert(sc((ten, lang)) == v,
        s"grouped card pass_all for ($ten,$lang) diverges from scorecardBy")
    }
    // render: one section per tenant, a real row present
    val md = CorpusCard.markdownGrouped(
      graft.queries.CurationQueries.queries("q_corpus_card_grouped")(spark, sfDir),
      "graft-test")
    tenants.foreach(ten => assert(md.contains(s"## Tenant: $ten"),
      s"tenant $ten section missing"))
    val (ten0, _, lang0, _, nd0) = card
      .filter(t => t._2 == "stats" && t._4 == "n_docs").head
    assert(md.contains(s"| $lang0 | $nd0 |"),
      s"stats row for $ten0/$lang0 ($nd0 docs) not rendered")
  }

  test("scorecard: per-rule counts equal the standalone operators") {
    import graft.operators.Curate
    val d = table("documents")
    val sc = run("q_curation_scorecard").collect()
    // rebuild the same report from the standalone flag frames — any
    // threshold drifting between scorecard and its operators fails here
    val g = Curate.gopherFlags(d, "doc_id", "text",
        stopWords = Seq("the", "a"))
      .select(col("doc_id"), col("keep").as("g"))
    val r = run("q_repetition")
      .select(col("doc_id"), col("keep").cast("long").as("r"))
    val b = Curate.blocklistFlags(d, "doc_id", "text", Seq("slow", "stream"))
      .select(col("doc_id"), col("keep").as("b"))
    val joined = d.select(col("doc_id"), col("source"))
      .join(g, "doc_id").join(r, "doc_id").join(b, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("g").as("pass_gopher"),
        sum("r").as("pass_repetition"), sum("b").as("pass_blocklist"),
        sum(col("g") * col("r") * col("b")).as("pass_all"))
      .orderBy("source").collect()
    assert(sc.map(_.toSeq).toSeq == joined.map(_.toSeq).toSeq,
      "scorecard diverged from the standalone rule operators")
  }

  test("trigram LM: predictable text outscores diverse text") {
    import spark.implicits._
    // write the corpus to a temp dir so the registered query (which
    // reads documents.parquet) can run on planted data
    val dir = java.nio.file.Files.createTempDirectory("graft_tri").toString
    val docs = Seq(
      (1L, "a b c a b c a b c a b c", "en", "s", 23L), // fully predictable
      (2L, "a c b b a c c b a b c a", "en", "s", 23L)) // same vocab, shuffled
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.PipelineQueries.queries("q_lm_trigram")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm3_q")).toMap
    assert(got(1L) > got(2L),
      s"the repeating pattern must score as more predictable: $got")
    // a fully deterministic chain: every trigram in doc 1 repeats, so
    // its interpolated score is bounded below by the trigram term alone
    assert(got(1L) > 100000000L / 4,
      s"doc 1's trigram conditionals are near-certain: $got")
  }

  test("unimax water-fill: caps bind in size order, remainder splits equally") {
    import spark.implicits._
    import graft.operators.Curate
    // sizes 10/20/100, cap 1 epoch, budget (130*4)//5 = 104:
    // a and b cap out (10+20=30), c gets 104-30 = 74 of its 100
    val sizes = Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("g", "t_tok")
    val got = Curate.unimaxAlloc(sizes, "g", 1L, 4L, 5L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc"), r.getAs[Long]("epochs_per_mille"))).toMap
    assert(got == Map("a" -> (10L, 1000L), "b" -> (20L, 1000L),
      "c" -> (74L, 740L)))
    // allocations never exceed the budget and never exceed a cap
    assert(got.values.map(_._1).sum <= 104L)
    // budget >= sum of caps: everyone caps out at maxEpochs
    val all = Curate.unimaxAlloc(sizes, "g", 2L, 2L, 1L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(all == Map("a" -> 20L, "b" -> 40L, "c" -> 200L))
  }

  test("unimax apply: full epochs replicate exactly, zero fraction adds nothing") {
    import spark.implicits._
    import graft.operators.Curate
    val docs = Seq((1L, "aa bb", "x"), (2L, "cc dd", "x"), (3L, "ee", "y"))
      .toDF("doc_id", "text", "g")
    // group x: alloc 8 of t_tok 4 -> exactly 2 full epochs, frac 0;
    // group y: alloc 3 of t_tok 1 -> 3 full epochs
    val alloc = Seq(("x", 4L, 8L), ("y", 1L, 3L)).toDF("g", "t_tok", "alloc")
    val out = Curate.unimaxApply(docs, "text", "g", alloc)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 3L),
      "copies = alloc div t_tok exactly when the fraction is zero")
    // fractional epoch: alloc 6 of 4 -> 1 full epoch + ~half the docs
    val half = Seq(("x", 4L, 6L)).toDF("g", "t_tok", "alloc")
    val got = Curate.unimaxApply(docs.filter($"g" === "x"), "text", "g", half)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(c => c == 1L || c == 2L),
      "every doc keeps its full epoch; only some get the fractional copy")
    assert(got.values.sum < 6L, "the fractional copy is a strict subset")
  }

  test("calibration audit: bins partition the corpus, rates bounded, ordered") {
    val bins = CurationQueries.queries("q_calibration")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val nDocs = table("documents").count()
    assert(bins.map(_._2).sum == nDocs, "every doc lands in exactly one bin")
    assert(bins.forall { case (_, n, nEn, pm, lo, hi) =>
      nEn <= n && pm >= 0 && pm <= 1000 && lo <= hi })
    // value bins are ordered and non-overlapping
    assert(bins.sliding(2).forall {
      case Array((_, _, _, _, _, hi1), (_, _, _, _, lo2, _)) => hi1 < lo2
      case _ => true
    })
    // the top bin must be en-dominated and the bottom bin en-sparse —
    // otherwise the margin carries no calibration signal at all
    assert(bins.last._4 > bins.head._4,
      s"en rate must rise from bottom to top bin: ${bins.toSeq}")
  }

  test("phrase mining: a bound collocation outranks frequent-but-independent pairs") {
    import spark.implicits._
    // "new" and "york" ONLY ever occur together (12 times, above the
    // δ=5 discount); "the"/"cat" are far more frequent and co-occur
    // more often in absolute terms — word2phrase's discounted ratio
    // must still rank the bound collocation on top. The word after
    // "york" varies per doc so no accidental (york, x) collocation
    // survives the support floor.
    val docs = (
      (0 until 12).map(i => s"new york v$i the cat sat") ++
      Seq.fill(24)("the cat and the dog and the cat ran")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toks = docs.select(graft.functions.tokenize_ws(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val tot = toks.agg(sum(size(col("t"))).as("n_tok"))
    // adjacent bigram pairs (Shared.bigramPairs is private[queries])
    val bc = docs
      .select(graft.functions.tokenize_ws(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("prev"),
          element_at(col("t"), i + 1).as("cur")))).as("bg"))
      .select(col("bg.prev"), col("bg.cur"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
    val scored = bc
      .join(uni.select(col("tok").as("prev"), col("c1").as("ca")), "prev")
      .join(uni.select(col("tok").as("cur"), col("c1").as("cb")), "cur")
      .crossJoin(broadcast(tot))
      .withColumn("score_q",
        floor((col("cab") - lit(5L)).cast("double") * col("n_tok") /
          (col("ca").cast("double") * col("cb")) * 1e6).cast("long"))
      .collect().map(r => (r.getAs[String]("prev"), r.getAs[String]("cur")) ->
        r.getAs[Long]("score_q")).toMap
    assert(scored.contains(("new", "york")))
    assert(scored.maxBy(_._2)._1 == ("new", "york"),
      s"the bound collocation must rank first: $scored")
    assert(scored(("new", "york")) > scored(("the", "cat")) * 3,
      s"collocation must dominate the frequent pair: $scored")
  }

  test("borda blend: quartile keeps, rank shape, partition invariance, no global window") {
    val out = run("q_quality_blend")
    // the PrefixSum plan contract: no unpartitioned WindowExec anywhere
    val globalWins = out.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWins.isEmpty, "borda blend must not plan a global sort window")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // per language: ranks are a dense permutation 1..n on each signal
    // and the final score; keeps are exactly the top ⌈n/4⌉
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val n = rs.length
      for (c <- Seq("d_len", "d_div", "d_wlen", "r_final"))
        assert(rs.map(_.getAs[Long](c)).sorted.toSeq == (1L to n).toSeq,
          s"$lang/$c must be a dense 1..$n permutation")
      val kept = rs.count(_.getAs[Boolean]("keep"))
      assert(kept == (n + 3) / 4, s"$lang keeps $kept of $n, want ceil(n/4)")
      rs.foreach { r =>
        assert(r.getAs[Long]("borda") ==
          r.getAs[Long]("d_len") + r.getAs[Long]("d_div") + r.getAs[Long]("d_wlen"))
        assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("r_final") <= (n + 3) / 4))
      }
    }
    // repartitioning the input must not move a single rank
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = graft.operators.Curate
      .bordaQuality(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("borda"), r.getAs[Long]("r_final"))).toMap
    val b = graft.operators.Curate
      .bordaQuality(docs.repartition(13), "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("borda"), r.getAs[Long]("r_final"))).toMap
    assert(a == b, "borda ranks must be partition-invariant")
  }

  test("k-anonymity: released tuples are k-safe, minimal, and never read text") {
    val out = run("q_k_anonymity")
    // plan contract: the ladder uses metadata columns only — the scan
    // must prune `text` (a 4-column read at any corpus size)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), s"no scan section in plan:\n$plan")
    assert(!plan.contains("text:string"),
      s"k-anonymity scan must prune the text column:\n$plan")
    val rows = out.collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    assert(rows.length == docs.length)
    def matches(lang: String, source: String, lenB: String,
                d: (Long, String, String, Long)): Boolean =
      (lang == "ANY" || lang == d._2) &&
        (source == "ANY" || source == d._3) &&
        (lenB == "ANY" || lenB == (d._4 / 100).toString ||
          lenB == (d._4 / 1000).toString)
    rows.foreach { r =>
      val (lang, source, lenB) = (r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[String]("len_b"))
      val lvl = r.getAs[Int]("level")
      // n_group really is the count of input docs compatible with the
      // released (wildcarded) tuple — the attacker's anonymity set
      val widthOk = docs.count { d =>
        (lang == "ANY" || lang == d._2) && (source == "ANY" || source == d._3) &&
          (lenB == "ANY" ||
            (lvl == 0 && lenB == (d._4 / 100).toString) ||
            (lvl == 1 && lenB == (d._4 / 1000).toString))
      }
      assert(widthOk == r.getAs[Long]("n_group"),
        s"doc ${r.getAs[Long]("doc_id")}: n_group mismatch")
      assert(r.getAs[Boolean]("safe") == (r.getAs[Long]("n_group") >= 5))
      assert(matches(lang, source, lenB,
        docs.find(_._1 == r.getAs[Long]("doc_id")).get),
        "released tuple must be consistent with the doc's own values")
    }
    // minimality: a doc released above level 0 must have FAILED every
    // finer level (its finer groups were under k)
    val byKey0 = docs.groupBy(d => (d._2, d._3, (d._4 / 100).toString))
      .map { case (kk, v) => kk -> v.length }
    rows.filter(_.getAs[Int]("level") > 0).foreach { r =>
      val d = docs.find(_._1 == r.getAs[Long]("doc_id")).get
      assert(byKey0((d._2, d._3, (d._4 / 100).toString)) < 5,
        s"doc ${d._1} generalized past a level-0 group that was already safe")
    }
    // the ladder must actually fire across multiple levels at this SF
    assert(rows.map(_.getAs[Int]("level")).distinct.length >= 3,
      "expected a spread of generalization levels on the gate corpus")
  }

  test("split-leakage matrix: cluster-atomic is diagonal, naive leaks, mass conserved") {
    import graft.queries.PipelineQueries
    val rows = PipelineQueries.queries("q_split_leakage")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_cross") ==
        (r.getAs[String]("grp_a") != r.getAs[String]("grp_b")))
    }
    val byMethod = rows.groupBy(_.getAs[String]("method"))
    assert(byMethod.keySet == Set("fold_md5", "cluster_atomic"))
    // the theorem the audit exists to measure: a cluster-atomic split
    // can NEVER place a near-dup pair across groups
    assert(byMethod("cluster_atomic").forall(!_.getAs[Boolean]("is_cross")),
      "cluster-atomic split leaked a pair across groups")
    // every pair is counted exactly once per method
    val totals = byMethod.view.mapValues(_.map(_.getAs[Long]("n_pairs")).sum).toMap
    assert(totals("fold_md5") == totals("cluster_atomic"),
      s"methods must see the same pair set: $totals")
  }

  test("borda blend: a doc dominating every signal is rank 1 with the floor score") {
    import spark.implicits._
    // one long, diverse, long-worded doc vs short repetitive ones —
    // it must win all three signal rankings outright (borda = 3)
    val champ = (1 to 60).map(i => s"wonderfully$i").mkString(" ")
    val docs = ((0L, champ) +:
      (1L to 20L).map(i => (i, "a a b " + ("c " * (i % 3).toInt).trim))).toDF("doc_id", "text")
    val out = graft.operators.Curate
      .bordaQuality(docs.withColumn("lang", lit("en")), "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("borda"), r.getAs[Long]("r_final"), r.getAs[Boolean]("keep"))).toMap
    assert(out(0L) == ((3L, 1L, true)), s"dominating doc must fuse to 3/rank 1: ${out(0L)}")
  }

  test("shingle novelty attributes first ownership by min id") {
    import spark.implicits._
    // doc 1 owns its 3 shingles; doc 2 repeats doc 1 verbatim (owns
    // nothing); doc 3 shares one shingle with doc 1, owns its other 2
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "c d e f g"))
      .toDF("doc_id", "text")
    val out = graft.operators.Curate
      .shingleNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((3L, 3L, 1000000L)), s"first holder owns all: $out")
    assert(out(2L) == ((3L, 0L, 0L)), "verbatim repeat owns nothing")
    assert(out(3L) == ((3L, 2L, 666666L)), s"partial overlap: ${out(3L)}")
    // real corpus: bounded, and at least one doc scores 0 (the corpus
    // has exact dups) while some doc scores full novelty
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val real = graft.operators.Curate
      .shingleNovelty(d, "doc_id", "text", 3)
      .collect().map(_.getAs[Long]("novelty_ppm"))
    assert(real.forall(p => p >= 0 && p <= 1000000))
    assert(real.contains(0L) && real.contains(1000000L),
      "corpus must exercise both ends of the novelty range")
  }

  test("vocab coverage curve: desc-frequency prefix reaches each target") {
    import spark.implicits._
    // freqs: a x6, b x3, c x1 (tot 10) -> desc cum 60% / 90% / 100%
    val docs = Seq((1L, "a a a b"), (2L, "a a a b b c"))
      .toDF("doc_id", "text")
    val out = graft.operators.Curate
      .vocabCoverageCurve(docs, "text", Seq(500000L, 900000L, 1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(500000L -> 1L, 900000L -> 2L, 1000000L -> 3L),
      s"curve: $out")
    // tie at freq 3: (freq DESC, tok DESC) puts x before b on both
    // engines — 90% needs {a, x} = 2 types either way, 95% needs 3
    val tied = Seq((1L, "a a a a x x x b b b"))
      .toDF("doc_id", "text")
    val t2 = graft.operators.Curate
      .vocabCoverageCurve(tied, "text", Seq(700000L, 1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t2 == Map(700000L -> 2L, 1000000L -> 3L), s"ties: $t2")
    // real corpus: monotone in the target, partition invariant
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val targets = Seq(500000L, 900000L, 990000L, 1000000L)
    val real = graft.operators.Curate
      .vocabCoverageCurve(d, "text", targets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(targets.map(real).zip(targets.tail.map(real))
      .forall { case (a, b) => a <= b }, s"monotone: $real")
    val real2 = graft.operators.Curate
      .vocabCoverageCurve(d.repartition(9), "text", targets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(real2 == real, "partition-variant curve")
  }

  test("luhn_valid accepts the ISO test PANs, rejects corruptions") {
    import spark.implicits._
    // standard network test numbers (valid) + single-digit
    // corruptions, a valid-Luhn-but-too-short run (11 digits — the
    // PAN length guard must reject what the checksum alone accepts),
    // and a non-digit string
    val cases = Seq(
      ("4111111111111111", true),  // Visa test PAN
      ("378282246310005", true),   // Amex test PAN (15 digits)
      ("6011111111111117", true),  // Discover test PAN
      ("4111111111111112", false), // corrupted check digit
      ("378282246310006", false),
      ("79927398713", false),      // valid Luhn sum, not PAN-length
      ("notdigits1234567", false),
      ("", false))
    val got = cases.map(_._1).toDF("cand")
      .withColumn("v", graft.functions.luhn_valid(col("cand")))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (c, want) =>
      assert(got(c) == want, s"luhn_valid('$c') = ${got(c)}, want $want")
    }
    // the query's synthesized corpus exercises BOTH branches (the
    // trailing digit is o_orderkey mod 10, so ~10% validate) and
    // masks everything to last4
    val out = graft.queries.PipelineQueries
      .queries("q_pan_luhn")(spark, sfDir).collect()
    assert(out.exists(_.getAs[Boolean]("luhn_valid")) &&
      out.exists(!_.getAs[Boolean]("luhn_valid")),
      "planted corpus must exercise both detector branches")
    assert(out.forall(_.getAs[String]("masked")
      .matches("[*]{12}[0-9]{4}")), "mask must hide all but last4")
  }

  test("quantile normalization maps shifted sources onto the global grid") {
    import spark.implicits._
    // global scores {10,20,30,40}; source A holds {10,30}, source B
    // {20,40}. Rank 1 of either source must land on the global value
    // at ppm 250000 (rank 2 -> 20), rank 2 at ppm 750000 (rank 4 ->
    // 40): after normalization the two drifted sources agree exactly.
    val df = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L),
      (4L, "B", 40L)).toDF("doc_id", "source", "n_chars")
    val out = graft.operators.Curate
      .quantileNormalize(df, "doc_id", "source", "n_chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ppm"), r.getAs[Long]("norm_score"))).toMap
    assert(out == Map(1L -> ((250000L, 20L)), 3L -> ((750000L, 40L)),
      2L -> ((250000L, 20L)), 4L -> ((750000L, 40L))), s"grid: $out")
    // single source: the map degenerates to the identity (rank r of n
    // targets global rank r), for any tie pattern
    val solo = Seq((1L, "A", 7L), (2L, "A", 7L), (3L, "A", 9L),
      (4L, "A", 2L)).toDF("doc_id", "source", "n_chars")
    graft.operators.Curate
      .quantileNormalize(solo, "doc_id", "source", "n_chars")
      .collect().foreach { r =>
        assert(r.getAs[Long]("norm_score") == r.getAs[Long]("score"),
          s"single-source normalization must be the identity: $r")
      }
    // real corpus: within a source the map is monotone (quantiles
    // preserve order), every normalized value is a real global score,
    // and the result is partition-invariant
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val real = graft.operators.Curate
      .quantileNormalize(d, "doc_id", "source", "n_chars")
    val rows = real.collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("score"), r.getAs[Long]("norm_score"))).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val sorted = rs.sortBy(r => (r.getAs[Long]("score"),
        r.getAs[Long]("doc_id")))
      val norms = sorted.map(_.getAs[Long]("norm_score"))
      assert(norms.zip(norms.tail).forall { case (a, b) => a <= b },
        s"non-monotone normalization in source $src")
    }
    val allScores = rows.map(_.getAs[Long]("score")).toSet
    assert(rows.forall(r => allScores(r.getAs[Long]("norm_score"))),
      "normalized values must be real global order statistics")
    val reparted = graft.operators.Curate
      .quantileNormalize(d.repartition(13), "doc_id", "source", "n_chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score"), r.getAs[Long]("norm_score"))).toMap
    assert(reparted == byId, "partition-variant normalization")
  }

  test("ac_match_stats: overlapping, nested, boundary-crossing matches") {
    import spark.implicits._
    // "aaa ab": 'aa' at offsets 0,1 (overlap), 'ab' once, rest zero
    val pats = Seq("aa", "ab", "ba", "zz")
    val out = Seq("aaa ab", "").toDF("text")
      .select(graft.functions.ac_match_stats(col("text"), pats).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(out(0) === Seq(3L, 2L, 2L, 1L, 0L, 0L))
    assert(out(1) === Seq(0L, 0L, 0L, 0L, 0L, 0L))
    // nested patterns: every 'table' also fires 'tab' and 'able'
    val out2 = Seq("table table").toDF("text")
      .select(graft.functions.ac_match_stats(col("text"),
        Seq("tab", "able", "table", "table table")).as("s"))
      .head.getSeq[Long](0)
    assert(out2 === Seq(7L, 4L, 2L, 2L, 2L, 1L))
  }

  test("ac automaton parity with a naive scan on generated word salad") {
    val vocab = Array("key", "agg", "row", "scan", "slow", "fast",
      "table", "a", "the", "tab")
    val pats = Seq("fast table", "table table", "a a", "tab", "le t",
      "scan slow", "zzz")
    val ac = new graft.functions.AcAutomaton(pats.toArray)
    def naive(text: String, p: String): Long = {
      var c = 0L; var i = 0
      while (i + p.length <= text.length) {
        if (text.regionMatches(i, p, 0, p.length)) c += 1
        i += 1
      }
      c
    }
    var seed = 0x9e3779b97f4a7c15L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (_ <- 1 to 200) {
      val n = nextInt(40)
      val text = Seq.fill(n)(vocab(nextInt(vocab.length))).mkString(" ")
      val got = ac.matchStats(
        org.apache.spark.unsafe.types.UTF8String.fromString(text))
      val want = pats.map(naive(text, _))
      val gotCounts = (0 until pats.length).map(i => got.getLong(i + 2))
      assert(gotCounts === want, s"mismatch on: '$text'")
      assert(got.getLong(0) === want.sum)
      assert(got.getLong(1) === want.count(_ > 0).toLong)
    }
  }

  test("ac_match_stats rejects non-string input at analysis; bad patterns at build") {
    import spark.implicits._
    val d = Seq(1L).toDF("x")
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(graft.functions.ac_match_stats(col("x"), Seq("p"))).collect()
    }
    intercept[IllegalArgumentException](
      new graft.functions.AcAutomaton(Array.empty[String]))
    intercept[IllegalArgumentException](
      new graft.functions.AcAutomaton(Array("a", "")))
    intercept[IllegalArgumentException](
      new graft.functions.AcAutomaton(Array("a", "a")))
  }

  test("ngram diversity: collapsed generator scores far below varied text") {
    import spark.implicits._
    // 'gen' repeats one sentence 20x; 'var' has 20 distinct sentences
    val rep = (1 to 20).map(i => (i.toLong, "the cat sat on the mat", "gen"))
    val varied = (1 to 20).map(i =>
      (100L + i, s"doc $i has unique words w${i}a w${i}b w${i}c", "var"))
    val d = (rep ++ varied).toDF("doc_id", "text", "source")
    val out = graft.operators.Curate.ngramDiversity(d, "text", "source", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // per-doc 6 tokens -> unigram totals 120; trigram totals 4*20=80
    assert(out(("gen", 1L))._1 === 120L && out(("gen", 3L))._1 === 80L)
    // the generator's distinct trigrams don't grow with the corpus
    assert(out(("gen", 3L))._2 === 4L)
    assert(out(("var", 3L))._3 > 10 * out(("gen", 3L))._3,
      "mode collapse must crater diversity_ppm vs the varied source")
    // short-doc rule: < n tokens yield ONE whole-text shingle
    val tiny = Seq((1L, "ab", "t")).toDF("doc_id", "text", "source")
    val t3 = graft.operators.Curate.ngramDiversity(tiny, "text", "source", 3)
      .filter(col("n") === 3).head()
    assert(t3.getAs[Long]("n_total") === 1L &&
      t3.getAs[Long]("n_distinct") === 1L)
  }

  test("language mixture: code-switched doc flags mixed, ties and und handled") {
    import spark.implicits._
    val enChunk = ("the" +: Seq.fill(15)("x")).mkString(" ")   // 16 tokens
    val deChunk = ("der" +: Seq.fill(15)("y")).mkString(" ")
    val d = Seq(
      (1L, s"$enChunk $deChunk"),   // one en chunk + one de chunk
      (2L, enChunk),                // pure en
      (3L, "x y z")                 // no markers anywhere
    ).toDF("doc_id", "text")
    val out = graft.operators.Curate.langMixture(d, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r).toMap
    val m1 = out(1L)
    assert(m1.getAs[Long]("n_chunks") === 2L &&
      m1.getAs[Long]("n_langs") === 2L && m1.getAs[Boolean]("mixed"))
    // 1-1 tie between de and en resolves alphabetically (the L8 rule)
    assert(m1.getAs[String]("dom_lang") === "de" &&
      m1.getAs[Long]("dom_share_pm") === 500000L)
    val m2 = out(2L)
    assert(m2.getAs[String]("dom_lang") === "en" &&
      m2.getAs[Long]("n_langs") === 1L && !m2.getAs[Boolean]("mixed") &&
      m2.getAs[Long]("dom_share_pm") === 1000000L)
    // zero marker evidence must NOT default to a language
    val m3 = out(3L)
    assert(m3.getAs[String]("dom_lang") === "und" &&
      m3.getAs[Long]("n_langs") === 0L && !m3.getAs[Boolean]("mixed"))
  }

  test("canary roundtrip: slot rule, detection matches injection, clean corpus is clean") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val canaries = Seq("canary one 0x1", "canary two 0x2", "canary three 0x3")
    val inj = graft.operators.Curate
      .injectCanaries(d, "doc_id", "text", canaries, everyN = 5L)
    val rows = inj.select("doc_id", "text", "canary_id").collect()
    // the slot rule: doc_id % 15 ∈ {0,5,10} → canary 0/1/2, else -1
    rows.foreach { r =>
      val id = r.getLong(0); val cid = r.getLong(2)
      val slot = id % 15
      val expect = if (slot % 5 == 0) slot / 5 else -1L
      assert(cid == expect, s"doc $id slot rule")
      // the text carries exactly its own canary, and only then
      canaries.zipWithIndex.foreach { case (c, i) =>
        assert(r.getString(1).contains(c) == (cid == i), s"doc $id vs $c")
      }
    }
    // audit on the injected corpus reproduces the selection counts
    val audit = graft.operators.Curate.canaryAudit(inj, "text", canaries)
      .collect().map(r => r.getLong(0) -> r).toMap
    val n = d.count()
    canaries.indices.foreach { i =>
      val planted = rows.count(_.getLong(2) == i).toLong
      val a = audit(i.toLong)
      assert(a.getAs[Long]("n_docs") == planted &&
        a.getAs[Long]("n_matches") == planted &&
        !a.getAs[Boolean]("clean"))
      assert(a.getAs[Long]("docs_ppm") == planted * 1000000L / n)
    }
    // zero-leak direction: the pristine corpus audits clean
    val cleanAudit = graft.operators.Curate.canaryAudit(d, "text", canaries)
      .collect()
    assert(cleanAudit.length == canaries.size &&
      cleanAudit.forall(r => r.getAs[Boolean]("clean") &&
        r.getAs[Long]("n_docs") == 0L))
    // determinism: re-running injection is bit-identical
    val again = graft.operators.Curate
      .injectCanaries(d, "doc_id", "text", canaries, everyN = 5L)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getString(1)))
  }

  test("charConcentration: planted extremes, codepoint rule, keep conjunction") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaaaaaa"),                        // single-char flood
      (1L, "abcdefghijklmnopqrst"),            // 20 distinct, uniform
      (2L, ""),                                // empty
      (3L, "the quick brown fox jumps over it"),
      (4L, "😀😀a")        // astral: 2 cp of 😀 + a
    ).toDF("doc_id", "text")
    val out = graft.operators.Curate
      .charConcentration(docs, "doc_id", "text",
        maxSimpsonPpm = 500000L, minDistinctCp = 3L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // flood: one char, simpson exactly 10^6, fails both gates
    assert(out(0L).getAs[Long]("n_cp") == 8L &&
      out(0L).getAs[Long]("n_distinct_cp") == 1L &&
      out(0L).getAs[Long]("simpson_ppm") == 1000000L &&
      out(0L).getAs[Long]("top_char_pm") == 1000L &&
      !out(0L).getAs[Boolean]("keep"))
    // uniform: simpson exactly 10^6/20 = 50000, keeps
    assert(out(1L).getAs[Long]("n_distinct_cp") == 20L &&
      out(1L).getAs[Long]("simpson_ppm") == 50000L &&
      out(1L).getAs[Boolean]("keep"))
    // empty: all zeros, fails the distinct floor
    assert(out(2L).getAs[Long]("n_cp") == 0L &&
      out(2L).getAs[Long]("simpson_ppm") == 0L &&
      !out(2L).getAs[Boolean]("keep"))
    // astral plane counts CODE POINTS (UTF-16 length would read 5):
    // n=3, counts {😀:2, a:1} → ss=5 → floor(5e6/9)=555555
    assert(out(4L).getAs[Long]("n_cp") == 3L &&
      out(4L).getAs[Long]("n_distinct_cp") == 2L &&
      out(4L).getAs[Long]("simpson_ppm") == 555555L)
    // keep is exactly the threshold conjunction on the full corpus
    val corpus = run("q_char_concentration").collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getAs[Boolean]("keep") ==
        (r.getAs[Long]("simpson_ppm") <= 78000L &&
          r.getAs[Long]("n_distinct_cp") >= 20L))
    }
    assert(corpus.exists(_.getAs[Boolean]("keep")) &&
      corpus.exists(!_.getAs[Boolean]("keep")),
      "gate-SF thresholds must discriminate")
    // kernel parity with the exploded-grouping recomputation
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val kernel = graft.operators.Curate
      .charConcentration(d, "doc_id", "text", 78000L, 20L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_cp"), r.getAs[Long]("n_distinct_cp"),
          r.getAs[Long]("simpson_ppm"))).toMap
    d.select("doc_id", "text").collect().foreach { r =>
      val cps = r.getString(1).codePoints().toArray
      val counts = cps.groupBy(identity).view.mapValues(_.length.toLong)
      val n = cps.length.toLong
      val ss = counts.values.map(k => k * k).sum
      val expect = (n, counts.size.toLong,
        if (n == 0) 0L else ss * 1000000L / (n * n))
      assert(kernel(r.getLong(0)) == expect, s"doc ${r.getLong(0)}")
    }
    // partitioning invariance (map-side op — trivially, but pin it)
    val rep = graft.operators.Curate
      .charConcentration(d.repartition(7), "doc_id", "text", 78000L, 20L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("simpson_ppm")).toMap
    kernel.foreach { case (id, (_, _, s)) => assert(rep(id) == s) }
  }

  test("dropout augmentation: deterministic views, subsequence, rate, edges") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(pm: Int, seed: Long) =
      graft.operators.Curate.augmentDropout(d, "doc_id", "text", pm, seed)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val a = run(150, 7L)
    // same (pm, seed) is bit-identical; a different seed is a
    // DIFFERENT view over the same token counts
    assert(a === run(150, 7L))
    val b = run(150, 8L)
    assert(a.keySet === b.keySet)
    assert(a.forall { case (id, (_, n, _)) => b(id)._2 == n })
    assert(a.exists { case (id, (txt, _, _)) => b(id)._1 != txt },
      "different seeds must give different views")
    // kept text is a positional subsequence of the original tokens
    val orig = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    a.foreach { case (id, (txt, n, drop)) =>
      val ot = orig(id).split(" ").filter(_.nonEmpty)
      val at = txt.split(" ").filter(_.nonEmpty)
      assert(ot.length.toLong == n && at.length.toLong == n - drop)
      // subsequence check
      var i = 0
      at.foreach { w =>
        while (i < ot.length && ot(i) != w) i += 1
        assert(i < ot.length, s"doc $id: '$w' out of order vs original")
        i += 1
      }
    }
    // corpus-level rate lands near 150 per mille
    val tot = a.values.map(_._2).sum.toDouble
    val dropped = a.values.map(_._3).sum.toDouble
    assert(dropped / tot > 0.10 && dropped / tot < 0.20,
      s"drop rate ${dropped / tot} far from 0.15")
    // edges: 0 is the identity on tokenized text, 1000 drops all
    val z = run(0, 7L)
    z.foreach { case (id, (txt, _, drop)) =>
      assert(drop == 0L &&
        txt == orig(id).split(" ").filter(_.nonEmpty).mkString(" "))
    }
    val full = run(1000, 7L)
    full.foreach { case (_, (txt, n, drop)) =>
      assert(txt == "" && drop == n)
    }
  }

  test("substringBlocklist + substringMatchProfile contracts") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val pats = CurationQueries.SubstringPatterns
    val flags = graft.operators.Curate
      .substringBlocklist(d, "doc_id", "text", pats).collect()
    assert(flags.length === d.count())
    flags.foreach { r =>
      assert((r.getAs[Long]("keep") == 1L) == (r.getAs[Long]("n_matches") == 0L))
      assert(r.getAs[Long]("n_patterns") <= pats.length.toLong)
      assert(r.getAs[Long]("n_patterns") <= r.getAs[Long]("n_matches"))
    }
    val prof = graft.operators.Curate
      .substringMatchProfile(d, "text", pats)
      .collect().map(r => r.getAs[String]("pattern") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_matches"))).toMap
    assert(prof.keySet === pats.toSet, "every pattern listed, hits or not")
    assert(prof("zzz never") === ((0L, 0L)), "zero-hit control present with zeros")
    // cross-check totals against the per-doc flags
    assert(prof.values.map(_._2).sum === flags.map(_.getAs[Long]("n_matches")).sum)
  }

  test("secretScan: flag rule on planted tokens, redaction, edges") {
    import spark.implicits._
    import graft.functions.secret_scan
    val hexKey = "a1b2c3d4e5f6a7b8c9d0a1b2c3d4e5f6" // 32 cp, mixed, uniform-ish
    val lowEntropy = "x" * 18 + "99"                // 20 cp, mixed, concentrated
    val longLetters = "abcdefghijklmnopqrstuvwxyz"  // no digit
    val longDigits = "12345678901234567890123"      // no letter
    val shortMixed = "abc123"                       // under minLen
    val rows = Seq(
      (1L, s"key $hexKey end"),
      (2L, s"ref $lowEntropy mid $longLetters also $longDigits and $shortMixed"),
      (3L, ""),
      (4L, s"$hexKey $hexKey"), // two secrets, doubled accounting
      (5L, "  double  spaced  words  ")) // redaction is the tokenizer's view
      .toDF("id", "text")
    val out = rows
      .select(col("id"), secret_scan(col("text"), 20, 250000L).as("s"))
      .select(col("id"), col("s.n_tokens"), col("s.n_secrets"),
        col("s.n_masked_cp"), col("s.redacted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 1L, 32L, "key [SECRET] end")))
    // every control evades a different clause of the conjunction
    assert(out(2L) == ((8L, 0L, 0L,
      s"ref $lowEntropy mid $longLetters also $longDigits and $shortMixed")))
    assert(out(3L) == ((0L, 0L, 0L, "")))
    assert(out(4L) == ((2L, 2L, 64L, "[SECRET] [SECRET]")))
    assert(out(5L) == ((3L, 0L, 0L, "double spaced words")))
  }

  test("readability: textbook Flesch values on planted sentences, edges") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the cat sat."),       // 3 words, 3 syllables, 1 sentence
      (2L, "xyz 42"),             // y is a vowel run; 42 takes the floor-1
      (3L, "a b. c d! e f?"),     // 3 sentences
      (4L, ""))                   // null scores, zero counts
      .toDF("doc_id", "text")
    val out = graft.operators.Curate.readability(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((3L, 3L, 1L)))
    // fk = 390*3/1 + 11800*3/3 - 15590 = -2620 (below grade 0: trivial)
    // ease = 206835 - 10150*3 - 84600*3/3 = 91785 ("very easy" band)
    assert(r1.getLong(4) == -2620L && r1.getLong(5) == 91785L)
    val r2 = out(2L)
    assert((r2.getLong(1), r2.getLong(2)) == ((2L, 2L)),
      "y counts as a vowel; a vowel-free token floors at 1 syllable")
    assert(out(3L).getLong(3) == 3L, "terminator runs count sentences")
    val r4 = out(4L)
    assert((r4.getLong(1), r4.getLong(2)) == ((0L, 0L)) &&
      r4.isNullAt(4) && r4.isNullAt(5), "empty text scores null")
  }

  test("aucExact and prCurve: textbook values, ties, perfect separation") {
    import spark.implicits._
    import graft.operators.Curate
    def auc(rows: Seq[(Long, Long, Boolean)]): Long =
      Curate.aucExact(rows.toDF("id", "sc", "lab"), "sc", "lab")
        .head().getAs[Long]("auc_micro")
    // perfect separation -> 1.0; inverted -> 0.0
    val sep = (1L to 6L).map(i => (i, i * 10, i > 3))
    assert(auc(sep) == 1000000L)
    assert(auc(sep.map { case (i, s, l) => (i, s, !l) }) == 0L)
    // all-tied scores -> exactly 0.5 via average ranks
    assert(auc(Seq((1L, 7L, true), (2L, 7L, false), (3L, 7L, true),
      (4L, 7L, false))) == 500000L)
    // hand case: scores 3,2,1 labels T,F,T -> AUC 0.5
    assert(auc(Seq((1L, 3L, true), (2L, 2L, false), (3L, 1L, true)))
      == 500000L)
    // PR at 2 buckets over 4 rows ranked desc: [T, F | F, T]
    val pr = Curate.prCurve(
        Seq((1L, 40L, true), (2L, 30L, false), (3L, 20L, false),
          (4L, 10L, true)).toDF("id", "sc", "lab"),
        "id", "sc", "lab", buckets = 2)
      .orderBy("decile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(pr.toSeq == Seq((0L, 2L, 1L, 500000L, 500000L),
      (1L, 4L, 2L, 500000L, 1000000L)), s"got ${pr.toSeq}")
  }

  test("grouped AUC equals per-group solo runs; degenerate groups are null") {
    import spark.implicits._
    import graft.operators.Curate
    val rows = Seq(
      ("a", 1L, 10L, true), ("a", 2L, 20L, false), ("a", 3L, 30L, true),
      ("a", 4L, 20L, true),
      ("b", 5L, 5L, false), ("b", 6L, 9L, true), ("b", 7L, 7L, false),
      ("c", 8L, 1L, true), ("c", 9L, 2L, true)) // all-positive: no ranking
      .toDF("grp", "id", "sc", "lab")
    val grouped = Curate.aucExactGrouped(rows, "grp", "sc", "lab")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    Seq("a", "b").foreach { g =>
      val solo = Curate.aucExact(rows.filter(col("grp") === g), "sc", "lab")
        .head().getAs[Long]("auc_micro")
      assert(grouped(g).contains(solo), s"group $g diverged from solo")
    }
    assert(grouped("c").isEmpty, "all-positive group must score null")
  }

  test("calibration bins + ECE: planted exact values") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Curate
    // bin 1 (p in [100000, 200000)): 4 rows at p=150000, 1 positive →
    // obs 250000, pred 150000, gap 100000
    // bin 9 (p=1000000 capped): 2 rows, 2 positive → obs 1e6, pred
    // 1e6, gap 0
    val rows = (Seq.fill(3)((150000L, false)) :+ ((150000L, true)) :+
      ((1000000L, true)) :+ ((1000000L, true)))
      .map { case (p, y) => (p, y) }.toDF("p", "y")
    val bins = Curate.calibrationBins(rows, "p", "y", buckets = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Long]("obs_ppm"),
          r.getAs[Long]("pred_ppm"), r.getAs[Long]("gap_ppm"))).toMap
    assert(bins(1L) == ((4L, 1L, 250000L, 150000L, 100000L)))
    assert(bins(9L) == ((2L, 2L, 1000000L, 1000000L, 0L)))
    // ECE = (4·100000 + 2·0) / 6 = 66666
    val ece = Curate.calibrationSummary(
      Curate.calibrationBins(rows, "p", "y", buckets = 10)).head()
    assert(ece.getLong(0) == 6L && ece.getLong(1) == 66666L)
    // partition invariance
    val ece5 = Curate.calibrationSummary(
      Curate.calibrationBins(rows.repartition(5), "p", "y", 10)).head()
    assert(ece5.getLong(1) == 66666L)
  }

  test("annotator agreement: Cohen 1960 textbook kappa") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Curate
    // confusion: yes/yes 20, yes/no 5, no/yes 10, no/no 15 (n=50)
    // po = 35/50 = 0.7; pA(yes)=25/50, pB(yes)=30/50;
    // pe = 0.5·0.6 + 0.5·0.4 = 0.5; κ = (0.7−0.5)/(1−0.5) = 0.4
    val cells = Seq(("yes", "yes", 20), ("yes", "no", 5),
      ("no", "yes", 10), ("no", "no", 15))
    val long = cells.flatMap { case (la, lb, n) =>
      (0 until n).map(k => (s"$la-$lb-$k", la, lb))
    }
    val labels = long.flatMap { case (item, la, lb) =>
      Seq((item, "declared", la), (item, "detected", lb))
    }.toDF("item", "rater", "label")
    val out = Curate.annotatorAgreement(labels, "item", "rater", "label",
      "declared", "detected").head()
    assert(out.getLong(0) == 50L)
    assert(out.getAs[Long]("po_ppm") == 700000L)
    assert(out.getAs[Long]("pe_ppm") == 500000L)
    assert(out.getAs[Long]("kappa_micro") == 400000L)
    // items missing one rater drop (pairwise-complete)
    val extra = labels.unionByName(
      Seq(("orphan", "declared", "yes")).toDF("item", "rater", "label"))
    assert(Curate.annotatorAgreement(extra, "item", "rater", "label",
      "declared", "detected").head().getLong(0) == 50L)
    // degenerate single-label marginals → κ null
    val degen = Seq(("i1", "declared", "x"), ("i1", "detected", "x"),
      ("i2", "declared", "x"), ("i2", "detected", "x"))
      .toDF("item", "rater", "label")
    val d = Curate.annotatorAgreement(degen, "item", "rater", "label",
      "declared", "detected").head()
    assert(d.isNullAt(d.fieldIndex("kappa_micro")))
  }

  test("pii scan: sequential count-then-redact, nesting resolved to the outer pattern") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Curate
    val rows = Seq(
      // a +digits run inside the email local part is the EMAIL's:
      // the phone count must be 0 after the email redacts
      (1L, "mail a+4915551234567@x.de now"),
      (2L, "host 10.1.2.3 and 192.168.0.254 up"),
      (3L, "call +4930123456 or mail bob@example.org from 8.8.8.8"),
      (4L, "nothing sensitive 12345 here")).toDF("id", "t")
    val out = Curate.piiScan(rows, "id", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 0L, 0L, "mail <EMAIL> now")))
    assert(out(2L) == ((0L, 2L, 0L, "host <IP> and <IP> up")))
    assert(out(3L) ==
      ((1L, 1L, 1L, "call <PHONE> or mail <EMAIL> from <IP>")))
    assert(out(4L) == ((0L, 0L, 0L, "nothing sensitive 12345 here")))
  }

  test("pii kernel == regex twin on pathological inputs and corpus text") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Curate
    // the cases where hand matchers classically diverge from
    // backtracking regex: host backtracking past trailing junk,
    // last-dot selection, boundary/overlap shapes, greedy caps
    val nasty = Seq(
      "a@b.cd-x tail", "a@b.cd.ef- end", "x@y@z.com double",
      "a@@b.cd atat", "a@b%c.de hostbreak", "%%@x.yz symbolic",
      "x@y.de1.2.3.4 glued", "1234.5.6.7 overlong", "1.2.3.4.5 fifth",
      "1.2.3.45a wordtail", "1.2.3456.7 midrun", "a1.2.3.4 wordhead",
      "+12345678901234567890 twenty", "+123456 short", "++4912345678 plus",
      "call +4930123456.and 10.0.0.1, mail a.b-c%d@e-f.gh now",
      "host 8.8.8.8and 9.9.9.9 mixed", "dot .2.3.4.5 lead",
      "u@h.co m", "u@h.c shorttld", "", "no pii at all")
    val planted = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val k1 = collectMap(Curate.piiScan(planted, "id", "t"))
    val r1 = collectMap(Curate.piiScanRegex(planted, "id", "t"))
    k1.keys.foreach(id => assert(k1(id) == r1(id),
      s"kernel/regex diverge on ${nasty(id.toInt)}: ${k1(id)} vs ${r1(id)}"))
    // corpus sample: real text through both paths
    val docs = table("documents").select(col("doc_id"), col("text"))
    val k2 = collectMap(Curate.piiScan(docs, "doc_id", "text"))
    val r2 = collectMap(Curate.piiScanRegex(docs, "doc_id", "text"))
    assert(k2 == r2, "kernel/regex diverge on corpus text")
  }

  test("stratified split: exact per-stratum proportions, deterministic") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Curate
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 105).map(i => (i.toLong, "small"))).toDF("id", "lang")
    val out = Curate.stratifiedSplit(docs, "id", "lang", 800, 100)
      .collect()
    val byStratum = out.groupBy(_.getString(1))
    // big (100): exactly 80/10/10; small (5): 4 train, 0 val, 1 test
    def counts(s: String) = byStratum(s).groupBy(_.getString(4))
      .view.mapValues(_.length).toMap.withDefaultValue(0)
    assert(counts("big") == Map("train" -> 80, "val" -> 10, "test" -> 10))
    assert(counts("small")("train") == 4 && counts("small")("val") == 0 &&
      counts("small")("test") == 1)
    // ranks are a permutation of 1..tot within each stratum
    assert(byStratum("big").map(_.getLong(2)).sorted.toSeq ==
      (1L to 100L).toSeq)
    // deterministic + partition invariant
    val again = Curate.stratifiedSplit(docs.repartition(7), "id", "lang",
      800, 100).collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    out.foreach(r => assert(again(r.getLong(0)) == r.getString(4)))
  }

  test("withGopherKeep equals gopherFlags' keep, row for row") {
    import graft.operators.Curate
    val d = table("documents")
    val outcomes = Seq((Seq("the", "a"), 50), (Seq("the", "a"), 10),
        (Seq("the", "be", "to", "of", "and", "that", "have", "with"), 50))
      .flatMap { case (stops, minWords) =>
        val flags = Curate.gopherFlags(d, "doc_id", "text", minWords = minWords,
            stopWords = stops)
          .select(col("doc_id"), col("keep"))
        val rowLocal = Curate.withGopherKeep(d, "text", "k", minWords = minWords,
            stopWords = stops)
          .select(col("doc_id"), col("k"))
        val got = rowLocal.join(flags, "doc_id").collect()
        assert(got.length.toLong == d.count())
        assert(got.forall(r => r.getLong(1) == r.getLong(2)),
          s"row-local keep diverged from gopherFlags ($stops, $minWords)")
        got.map(_.getLong(2))
      }
    assert(outcomes.toSet == Set(0L, 1L), "the fixture exercises both outcomes")
  }
}
