package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.core.Tables

class TextQueriesSpec extends SparkSpec {

  test("token count equals whitespace-split count on the corpus") {
    // The synthetic corpus is single-space separated, so
    // space-counting must agree with an actual split.
    val mismatches = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (size(split(col("text"), " "))).cast("long").as("via_split"))
      .join(TextQueries.tTokenCount(spark, sfDir), "doc_id")
      .filter(col("via_split") =!= col("n_tokens"))
      .count()
    assert(mismatches == 0)
  }

  test("n_chars_calc matches the shipped n_chars column") {
    val bad = TextQueries.tTokenCount(spark, sfDir)
      .filter(col("n_chars_calc") =!= col("n_chars")).count()
    assert(bad == 0)
  }

  test("exact dedup keeps one row per distinct text") {
    val distinctTexts = Tables.documents(spark, sfDir)
      .select("text").distinct().count()
    assert(TextQueries.ddExactRows(spark, sfDir).count() == distinctTexts)
  }

  test("fingerprint is stable and case-insensitive") {
    import spark.implicits._
    val docs = Seq((1L, "Hello World", "a"), (2L, "hello world", "b"),
      (3L, "different", "c")).toDF("doc_id", "text", "source")
    val fps = docs.select(col("doc_id"),
      substring(md5(lower(col("text"))), 1, 16).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("tf-idf: stopword-heavy docs get lower top weights than rare-term docs") {
    import spark.implicits._
    // "the" appears in EVERY doc → idf = ln((N+1)/(df+1)) = ln(1) = 0;
    // each doc's unique second term has df=1 → idf = ln(2).
    val docs = Seq(
      (1L, "the apple"), (2L, "the banana"), (3L, "the cherry")
    ).toDF("doc_id", "text")
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    import org.apache.spark.ml.functions.vector_to_array
    val tokens = new Tokenizer()
      .setInputCol("text").setOutputCol("tokens").transform(docs)
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(1024).transform(tokens)
    val out = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(tf)
      .transform(tf)
      .select(col("doc_id"),
        array_max(vector_to_array(col("tfidf"))).as("top"),
        size(filter(vector_to_array(col("tfidf")), x => x > 0.0))
          .as("n_active"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    out.values.foreach { case (top, nActive) =>
      assert(math.abs(top - math.log(2.0)) < 1e-9,
        s"unique term weight should be ln 2, got $top")
      assert(nActive == 1,
        "the ubiquitous term must be zero-weighted (idf 0)")
    }
  }

  test("top terms per lang are the actual most frequent words") {
    val top = TextQueries.tTopTerms(spark, sfDir)
    val counts = top.groupBy("lang").count().collect()
    assert(counts.forall(_.getLong(1) == 5L), "5 terms per lang")
    // rank 1 term count must equal the max word count for that lang
    val r1 = top.filter(col("rk") === 1)
      .select("lang", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxCounts = graft.core.Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").count()
      .groupBy("lang").agg(max("count").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == maxCounts)
  }

  test("single-pass conditional agg equals filtered counts (property)") {
    import spark.implicits._
    val gen = Gen.listOfN(60, Gen.zip(Gen.oneOf(0, 1), Gen.oneOf(0, 1)))
    for (seed <- 1L to 5L) {
      val pairs = gen.apply(Gen.Parameters.default, Seed(seed)).get
      val df = pairs.toDF("pred", "label").cache()
      val one = df.agg(
        sum(when(col("pred") === 1 && col("label") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("pred") === 0 && col("label") === 1, 1L)
          .otherwise(0L)).as("fn")).head()
      val tp = df.filter(col("pred") === 1 && col("label") === 1).count()
      val fn = df.filter(col("pred") === 0 && col("label") === 1).count()
      df.unpersist()
      assert((one.getLong(0), one.getLong(1)) == ((tp, fn)),
        s"seed $seed")
    }
  }

  test("decontamination flags planted near-dups crossing the split") {
    val rows = TextQueries.tDecontaminate(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty, "fixture plants near-dup docs across splits")
    // only train-side docs are flagged; every flag has evidence
    assert(rows.keys.forall(_ % 17 != 0))
    assert(rows.values.forall(_ > 0))
    // eval docs share ALL their grams with themselves — sanity that
    // an identical doc pair across splits would be caught: the
    // highest-overlap flagged doc shares a large gram set
    assert(rows.values.max >= 10, s"overlap too small: $rows")
  }

  test("source mix keeps tier-0 fully and downsamples the others") {
    val kept = TextQueries.l6SourceMix(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.core.Tables.documents(spark, sfDir)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def tier(src: String) = src.drop(3).toInt % 3
    for ((src, total) <- totals) tier(src) match {
      case 0 => assert(kept(src) == total, s"$src must keep all")
      case _ =>
        val frac = kept.getOrElse(src, 0L).toDouble / total
        val target = if (tier(src) == 1) 0.5 else 0.2
        assert(math.abs(frac - target) < 0.35,
          s"$src kept $frac, target $target")
    }
    // determinism: same result twice
    val again = TextQueries.l6SourceMix(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("BPE-ish regex tokenization counts runs of letters/digits/other") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_token_bpe").toString
    // 'hello world 42 a-b c!' → [hello][ world][ 42][ a][-][b][ c][!]
    // 'the the the' → 3 tokens, 2 distinct ('the' vs ' the')
    // 'x7y' → letter/digit boundaries split without spaces
    Seq((1L, "hello world 42 a-b c!", "en", "src", 21L),
      (2L, "the the the", "en", "src", 11L),
      (3L, "x7y", "en", "src", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.tTokenBpe(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((5L, 8L, 8L)))
    assert(got(2L) == ((3L, 3L, 2L)))
    assert(got(3L) == ((1L, 3L, 3L)))
  }

  test("unigram LM scoring ranks rare-word docs above boilerplate") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_lm_score").toString
    // docs 1-3: the same common phrase (low surprise); doc 4: words
    // that appear nowhere else (maximum surprise under the corpus LM)
    Seq((1L, "the cat sat", "en", "s", 11L),
      (2L, "the cat sat", "en", "s", 11L),
      (3L, "the cat sat", "en", "s", 11L),
      (4L, "zyx qwv jkl", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.tLmScore(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.size == 4)
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(4L) > got(1L),
      s"rare-word doc must score higher nll: ${got(4L)} vs ${got(1L)}")
    // exact quantized value: common words have cnt=3 of total=12 →
    // q_lp = floor(ln(3/12)·1e4) = floor(-13862.94…) = -13863
    val perToken = 13863.0
    assert(math.abs(got(1L) - perToken) < 1e-9)
  }

  test("hash split partitions the whole corpus deterministically ~98/1/1") {
    val census = TextQueries.l7HashSplit(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.core.Tables.documents(spark, sfDir).count()
    assert(census.values.sum == total, "every doc lands in exactly one split")
    assert(census("train") > census.getOrElse("val", 0L) &&
      census("train") > census.getOrElse("test", 0L))
    // the split is a data property: identical on re-evaluation
    val again = TextQueries.l7HashSplit(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == census)
  }

  test("sequence packing assigns docs to windows by start offset") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_seq_pack").toString
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    // tokens: 2000, 100, 2000 → starts 0, 2000, 2100 → windows 0, 0, 1
    Seq((1L, words(2000), "en", "src0", 1L),
      (2L, words(100), "en", "src0", 1L),
      (3L, words(2000), "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.l8SeqPack(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(("src0", 0L)) == ((2L, 2100L, 1L)))
    assert(got(("src0", 1L)) == ((1L, 2000L, 3L)))
    assert(got.size == 2)
  }

  test("repetition filters count repeated words and bigrams exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_repetition").toString
    // doc 1: "a a a b" — word 'a' ×3, bigram "a a" ×2
    // doc 2: all distinct — no repetition anywhere
    // doc 3: single word — no bigrams at all (the sequence() edge)
    Seq((1L, "a a a b", "en", "src", 7L),
      (2L, "x y z", "en", "src", 5L),
      (3L, "solo", "en", "src", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.tRepetition(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getDouble(6)))).toMap
    assert(got(1L) == ((4L, 3L, 3L, 0.75, 2L, 2.0 / 3)))
    assert(got(2L) == ((3L, 1L, 0L, 0.0, 1L, 0.5)))
    assert(got(3L) == ((1L, 1L, 0L, 0.0, 0L, 0.0)))
  }

  test("winnowing: shared w+k-1 substring at different offsets shares a fp") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_winnow").toString
    // The MOSS guarantee: any shared run of >= w+k-1 = 6 words yields
    // at least one shared fingerprint REGARDLESS of position. The
    // 6-word phrase sits at offset 0 in doc 1 and offset 4 in doc 2,
    // surrounded by disjoint vocabulary; doc 3 shares nothing.
    val phrase = "p1 p2 p3 p4 p5 p6"
    Seq(
      (1L, phrase + " a1 a2 a3 a4"),
      (2L, "b1 b2 b3 b4 " + phrase),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = TextQueries.tWinnowFp(spark, tmp).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing a 6-word run must share a winnowed fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "vocab-disjoint docs must not collide")
    // density: kept fps are a small fraction of the gram count
    // (expected ~2/(w+1) = 0.4 of 8 grams -> well under all of them)
    assert(fps(1L).size < 8)
  }

  test("winnow pair search: planted partial overlap pairs, disjoint doesn't") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_winnow_pairs").toString
    // Docs 1 and 2 share a 20-word run at DIFFERENT offsets inside
    // otherwise-disjoint text — the partial-overlap shape whole-doc
    // digests can't see and the pair search exists for. Doc 3 is
    // vocabulary-disjoint from both. The winnowing guarantee gives
    // >= 1 shared fp per qualifying run; an 18-gram run at density
    // 2/(w+1) = 0.4 yields several, so the registered >=2 threshold
    // must also fire.
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    Seq(
      (1L, shared + " a1 a2 a3 a4 a5 a6 a7 a8"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 " + shared),
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = TextQueries.ddWinnowPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(pairs.contains((1L, 2L)),
      s"planted 20-word overlap must pair at the registered " +
        s"threshold; got ${pairs.keySet}")
    assert(pairs.size == 1, s"disjoint doc 3 must not pair: $pairs")
    val (nShared, containment) = pairs((1L, 2L))
    assert(nShared >= TextQueries.WinnowMinShared)
    assert(containment > 0.0 && containment <= 1.0)
    // guarantee-level check via the impl at minShared = 1: a short
    // 6-word (= w+k-1) planted run must still produce the pair.
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_winnow_pairs2").toString
    val phrase = "p1 p2 p3 p4 p5 p6"
    Seq(
      (1L, phrase + " d1 d2 d3 d4 d5 d6 d7 d8"),
      (2L, "e1 e2 e3 e4 e5 e6 e7 e8 " + phrase))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val atGuarantee = TextQueries.winnowPairsImpl(
      TextQueries.tWinnowFp(spark, tmp2), minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(atGuarantee.contains((1L, 2L)),
      "a w+k-1-word shared run must pair at the >=1 guarantee level")
  }

  test("word entropy: exact pieces on a known doc, extremes ordered") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_entropy").toString
    Seq(
      (1L, "a a b"),                      // {a:2, b:1}
      (2L, "x x x x x x"),                // degenerate: H = 0
      (3L, "q w e r t y"))                // uniform: H = ln(6)
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.tWordEntropy(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 2L, 2L * math.floor(math.log(2) * 10000).toLong)))
    assert(got(2L) == ((6L, 1L, 6L * math.floor(math.log(6) * 10000).toLong)))
    assert(got(3L) == ((6L, 6L, 0L)))
    // derived H: degenerate doc 0, uniform doc ln(6)
    def h(t: (Long, Long, Long)): Double =
      math.log(t._1.toDouble) - t._3.toDouble / (t._1 * 10000.0)
    assert(math.abs(h(got(2L))) < 1e-3)
    assert(math.abs(h(got(3L)) - math.log(6)) < 1e-3)
    assert(h(got(1L)) > 0 && h(got(1L)) < math.log(3))
  }

  test("vocab encode: frequency-ranked ids, deterministic ties, OOV = 0") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vocab").toString
    // corpus counts: a×3 (2 in doc1 + 1 in doc2), b×3, c×1, z×1;
    // cap 2 -> the a/b tie resolves alphabetically (a=1, b=2), c and
    // z are OOV(0). Tie determinism is the point of the word ASC
    // tiebreak.
    Seq((1L, "b b b a a c"), (2L, "a z"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val enc = TextQueries.vocabEncodeImpl(spark, tmp, vocabSize = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // doc 1: b b b a a c -> 2 2 2 1 1 0
    assert((0 to 5).map(p => enc((1L, p))) == Seq(2L, 2L, 2L, 1L, 1L, 0L))
    // doc 2: a z -> 1 0 (z is below the cap)
    assert(enc((2L, 0)) == 1L && enc((2L, 1)) == 0L)
    // real corpus: ids within [0, VocabSize]; OOV tokens exist
    // exactly when the corpus vocabulary exceeds the cap
    val distinctWords = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().count()
    val stats = TextQueries.tVocabEncode(spark, sfDir)
      .agg(min(col("token_id")), max(col("token_id"))).head()
    assert(stats.getLong(1) <= TextQueries.VocabSize)
    if (distinctWords > TextQueries.VocabSize)
      assert(stats.getLong(0) == 0L, "cap exceeded but no OOV emitted")
    else
      assert(stats.getLong(0) == 1L, "no OOV possible under the cap")
  }

  test("dup spans recover the exact planted overlap length") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dup_spans").toString
    // Doc 1 and 2 share EXACTLY a 20-word run (grams fully disjoint
    // elsewhere): longest shared gram run must be exactly 18, i.e.
    // shared_words exactly 20 — not 19, not 21. Doc 3 shares two
    // SEPARATE 8-word runs with doc 1; the islands must NOT bridge
    // them (max run 6 grams = 8 words, not 16).
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val runA = (1 to 8).map(i => s"r$i").mkString(" ")
    val runB = (1 to 8).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, shared + " a1 a2 " + runA + " a3 a4 " + runB),
      (2L, "b1 b2 b3 b4 b5 b6 b7 " + shared),
      (3L, runB + " c1 c2 c3 c4 c5 c6 c7 " + runA))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = TextQueries.ddDupSpans(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(spans((1L, 2L)) == ((18L, 20L)),
      s"planted 20-word overlap must measure exactly: $spans")
    // pair (1,3) appears only if the winnow stage paired it; if it
    // did, the two separate 8-word runs must not bridge
    spans.get((1L, 3L)).foreach { case (run, words) =>
      assert(run == 6L && words == 8L,
        s"separate runs must not bridge: $spans")
    }
  }

  test("domain quota caps every source at the quota, keeping the " +
      "lowest-hash members") {
    val out = TextQueries.l13DomainQuota(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // every shipped source has ≥ quota docs, so the cap binds on all
    val perSource = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perSource.values.forall(_ == TextQueries.DomainQuota),
      s"cap must bind on every source: $perSource")
    // kept set = the window formulation over the same portable hash
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val ref = graft.core.Tables.documents(spark, sfDir)
      .withColumn("h",
        graft.core.PortableHash.md5Hash60(col("doc_id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TextQueries.DomainQuota)
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == ref.toSet,
      "TopKPerGroup quota diverges from the window formulation")
  }
}
