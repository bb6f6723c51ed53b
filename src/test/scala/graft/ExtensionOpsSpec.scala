package graft

import org.apache.spark.sql.functions._

import graft.catalog.TextQueries
import graft.functions.VectorExpressions
import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

/** §2.10 extension operators: text analysis, dedup family, similarity
  * search, multimodal plumbing — on testdata + injected fixtures
  * (FIXTURES.md B.6).
  */
class ExtensionOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf("sf0.001") + "/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet(sf("sf0.001") + "/embeddings.parquet").cache()

  test("text: tokens/counts/ratios/quality") {
    val got = Seq("the cat sat, on the mat!", "", "xyzzy")
      .toDF("text").select(
        TextOps.tokenCount($"text").as("n"),
        TextOps.bpeishTokenCount($"text").as("bpe"),
        round(TextOps.punctRatio($"text"), 4).as("punct"),
        round(TextOps.stopwordRatio($"text",
          TextOps.langProfiles("en")), 4).as("sw"),
        round(TextOps.meanTokenLength($"text"), 4).as("mtl"))
      .collect()
    assert(got(0).getAs[Int]("n") == 6)
    assert(got(0).getAs[Int]("bpe") == 8)    // 6 words + ',' + '!'
    assert(got(0).getAs[Double]("sw") == 0.3333) // "the" x2 of 6
    assert(got(1).getAs[Int]("n") == 0)
    assert(got(1).getAs[Double]("punct") == 0.0)
    assert(got(2).getAs[Double]("sw") == 0.0)
  }

  test("text: langId detects real-language snippets, und on garbage") {
    val samples = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("der Hund ist nicht mit der Katze", "de"),
      ("el perro y la casa es de madera", "es"),
      ("le chat est dans la maison pour dormir", "fr"),
      ("我是中国人他有一个大家", "zh"),
      ("qwerty zxcvb 12345", "und"))
    val got = samples.map(_._1).toDF("text")
      .select(TextOps.langId($"text")).as[String].collect().toSeq
    assert(got == samples.map(_._2))
  }

  test("leakageSafeSplit: near-dup components never straddle splits; " +
      "singletons hash independently; agrees with the rep's own label") {
    import graft.operators.Sampling
    // components {1,2,3} (chain) and {10,11}; 20..40 singletons
    val ids = (Seq(1L, 2L, 3L, 10L, 11L) ++ (20L to 40L)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Sampling.leakageSafeSplit(ids, "doc_id", pairs,
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 26)
    // every member carries the component min as rep and the SAME label
    assert(Seq(1L, 2L, 3L).map(got(_)).distinct == Seq(got(1L)))
    assert(got(1L)._1 == 1L && got(10L)._1 == 10L && got(11L)._1 == 10L)
    // singleton reps are themselves, and the label equals the plain
    // per-id hash label (incremental re-splits agree off-component)
    val plain = ids.select($"doc_id", Sampling.splitLabel($"doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("s"))
      .as[(Long, String)].collect().toMap
    (20L to 40L).foreach { i =>
      assert(got(i) == ((i, plain(i))), s"singleton $i")
    }
    // a component's label is its representative's plain label
    assert(got(3L)._2 == plain(1L) && got(11L)._2 == plain(10L))
  }

  test("sampling: deterministic split is stable, partitioned, and proportional") {
    import graft.operators.Sampling
    val a = docs.select($"doc_id",
      Sampling.splitLabel($"doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("split"))
      .as[(Long, String)].collect().toMap
    val b = docs.select($"doc_id",
      Sampling.splitLabel($"doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("split"))
      .as[(Long, String)].collect().toMap
    assert(a == b)                       // identical across runs
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    val train = a.values.count(_ == "train")
    assert(train > 400 && train < 490, s"train=$train of ${a.size}")
    // deterministic sample is a stable subset
    val s10 = Sampling.deterministicSample(docs, "doc_id", 10)
      .select($"doc_id").as[Long].collect().toSet
    val s10b = Sampling.deterministicSample(docs, "doc_id", 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(s10 == s10b && s10.size > 20 && s10.size < 100)
    // pct subsets nest: 10% ⊆ 20%
    val s20 = Sampling.deterministicSample(docs, "doc_id", 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(s10.subsetOf(s20))
  }

  test("text: fused langId == builtin langId on the corpus + edge cases") {
    val edge = Seq("", "   ", "the der el le 的",
      "the the the", "der der der").toDF("text")
    val corpus = docs.select($"text").unionByName(edge)
    val diff = corpus.select(
        TextOps.langId($"text").as("fused"),
        TextOps.langIdBuiltin($"text").as("ref"))
      .filter($"fused" =!= $"ref")
    assert(diff.count() == 0,
      s"mismatches: ${diff.limit(5).collect().mkString(", ")}")
  }

  test("text: shingles + fingerprint stability under distant edit") {
    val base = "a b c d e f g h i j k l m n o p"
    val edited = base + " zz"   // edit at the end
    val df = Seq(base, edited).toDF("text")
      .select(TextOps.fingerprint($"text", 3, 5).as("fp"))
    val Array(f1, f2) = df.as[Seq[String]].collect()
    assert(f1.size == 5 && f2.size == 5)
    assert(f1.intersect(f2).size >= 3) // local edit keeps most mins
    val sh = Seq("a b c d").toDF("t")
      .select(TextOps.shingles($"t", 3)).as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    // shorter than k -> single whole-text shingle
    val short = Seq("a b").toDF("t")
      .select(TextOps.shingles($"t", 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("text: Luhn-gated card redaction — valid card redacts, " +
      "same-shape invalid number and order ids survive") {
    // 4111111111111111 is the classic Luhn-valid test PAN;
    // 4111111111111112 fails the checksum; the 13-digit order id
    // 4111111111111 is Luhn-valid too and must ALSO redact (13-19
    // digit window), while a 12-digit run is never a candidate
    val row = Seq("pay 4111111111111111 not 4111111111111112 " +
      "ord 411111111111 ok").toDF("t")
      .select(TextOps.redactCards($"t")).as[String].head()
    assert(row == "pay <CARD> not 4111111111111112 " +
      "ord 411111111111 ok", row)
    // luhnSum ground truth: 79927398713 is the canonical valid example
    val s = Seq(("79927398713", "79927398710")).toDF("a", "b")
      .select(TextOps.luhnSum($"a") % 10, TextOps.luhnSum($"b") % 10)
      .as[(Long, Long)].head()
    assert(s._1 == 0L && s._2 != 0L, s.toString)
  }

  test("text: PII redaction replaces each category, counts once") {
    val row = Seq(
      ("mail bob.smith+x@corp.example.org or 10.1.2.3 ssn 123-45-6789 " +
        "tel 555-867-5309 and 555.123.4567 plain 12345"))
      .toDF("text")
      .select(TextOps.redactPii($"text").as("red"),
        TextOps.piiCounts($"text").as("pc"))
      .select($"red", $"pc.n_email", $"pc.n_ip", $"pc.n_ssn", $"pc.n_phone")
      .head()
    val red = row.getString(0)
    assert(red.contains("<EMAIL>") && red.contains("<IP>") &&
      red.contains("<SSN>") && red.contains("<PHONE>"))
    assert(!red.contains("@") && !red.contains("123-45-6789"))
    assert(red.contains("plain 12345")) // non-PII digits untouched
    assert((row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4))
      == ((1, 1, 1, 2)))
    // email host digits are not double-counted as IP/phone
    val e = Seq("x@1.2.3.4mail.com t").toDF("text")
      .select(TextOps.piiCounts($"text").as("pc"))
      .select($"pc.n_email", $"pc.n_ip").head()
    assert(e.getInt(0) == 1 && e.getInt(1) == 0)
  }

  test("text: repetition stats flag repeated phrases, clean text low") {
    val df = Seq(
      ("clean", "one two three four five six seven eight"),
      ("spam", "buy now buy now buy now buy now"),
      ("empty", ""))
      .toDF("id", "text")
      .select($"id", TextOps.repetitionStats($"text", 2).as("r"))
      .select($"id", $"r.n_tokens", $"r.dup_token_frac",
        $"r.top_ngram_count", $"r.top_ngram_frac")
    val m = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m("clean") == ((8L, 0.0, 1L, 0.25)))
    // "buy now" x4: 8 tokens, 2 distinct, top 2-gram "buy now" occurs 4x
    assert(m("spam")._1 == 8L && m("spam")._2 == 0.75)
    assert(m("spam")._3 == 4L && m("spam")._4 == 1.0)
    assert(m("empty") == ((0L, 0.0, 1L, 0.0)))
  }

  test("sampling: stratified rates honored, stable, consistent with flat") {
    import operators.Sampling
    val rows = (0 until 2000).map(i =>
      (i.toString, if (i % 4 == 0) "rare" else "common")).toDF("id", "s")
    val kept = Sampling.stratifiedSample(rows, "id", "s",
      Seq("rare" -> 100, "common" -> 10))
    val byStratum = kept.groupBy($"s").count().as[(String, Long)]
      .collect().toMap
    assert(byStratum("rare") == 500)            // 100% of the stratum
    val c = byStratum("common")
    assert(c > 100 && c < 200, s"~10% of 1500 expected, got $c")
    // determinism: same call, same membership
    val again = Sampling.stratifiedSample(rows, "id", "s",
      Seq("rare" -> 100, "common" -> 10))
    assert(kept.select($"id").except(again.select($"id")).count() == 0)
    // consistency: a stratum at rate p keeps exactly the ids that
    // deterministicSample(p) keeps — one id-space, one bucket function
    val flat10 = Sampling.deterministicSample(
      rows.filter($"s" === "common"), "id", 10)
    assert(kept.filter($"s" === "common").select($"id")
      .except(flat10.select($"id")).count() == 0)
    // unknown stratum defaults to 0%
    val none = Sampling.stratifiedSample(rows, "id", "s", Seq("rare" -> 100))
    assert(none.filter($"s" === "common").count() == 0)
  }

  test("sampling: per-key cap bounded, deterministic, keeps small keys whole") {
    import operators.Sampling
    val rows = (0 until 300).map(i => (i.toLong, s"d${i % 10}")) ++
      (1000 until 1003).map(i => (i.toLong, "tiny"))
    val df = rows.toDF("id", "domain")
    val capped = Sampling.capPerKey(df, "domain", "id", 7)
    val counts = capped.groupBy($"domain").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ <= 7))
    assert(counts("tiny") == 3)               // under-cap key untouched
    assert(counts.view.filterKeys(_ != "tiny").values.forall(_ == 7))
    val again = Sampling.capPerKey(df, "domain", "id", 7)
    assert(capped.select($"id").except(again.select($"id")).count() == 0)
  }

  test("sampling: next-fit packing — capacity, oversized, key isolation") {
    import graft.operators.Sampling
    val rows = Seq(
      // key a, capacity 10: [3,4] fit (7), 5 overflows -> bin 1 with 2
      // (7), then 12 oversized -> bin 2 alone, 1 -> bin 3
      ("a", 1L, 3L), ("a", 2L, 4L), ("a", 3L, 5L), ("a", 4L, 2L),
      ("a", 5L, 12L), ("a", 6L, 1L),
      // key b starts back at bin 0; null-ish weight (0) counts as 1
      ("b", 1L, 0L), ("b", 2L, 10L))
      .toDF("k", "ord", "w")
    val got = Sampling.packByCapacity(rows, Seq("k"), "ord", "w", 10L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got == Map(
      ("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 1L, ("a", 4L) -> 1L,
      ("a", 5L) -> 2L, ("a", 6L) -> 3L,
      ("b", 1L) -> 0L, ("b", 2L) -> 1L))
    // invariant on real data: no bin over capacity unless it holds a
    // single oversized row; bins are monotone in order
    val docs2 = docs.select($"source", $"doc_id",
      graft.operators.TextOps.tokenCount($"text").cast("long")
        .as("n_tokens"))
    val packed = Sampling.packByCapacity(docs2, Seq("source"), "doc_id",
      "n_tokens", 256L)
    val bad = packed.groupBy($"source", $"bin")
      .agg(sum(greatest($"n_tokens", lit(1L))).as("fill"),
        count(lit(1)).as("cnt"))
      .filter($"fill" > 256L && $"cnt" > 1L)
    assert(bad.count() == 0, "a multi-row bin exceeded capacity")
  }

  test("dedup: contamination report flags eval overlap only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta something else entirely")) // overlaps 1
      .toDF("doc_id", "text")
    val evalSet = corpus.filter($"doc_id" === 1L)
    val rep = Dedup.contaminationReport(corpus, evalSet, "doc_id", "text",
        k = 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(rep(1L)._3 && rep(1L)._2 == 4)   // self: all 4 of its 3-shingles
    assert(!rep(2L)._3 && rep(2L)._2 == 0)  // disjoint doc untouched
    assert(rep(3L)._3 && rep(3L)._2 == 2)   // "alpha beta gamma", "beta gamma delta"
  }

  test("dedup: bloom-path contamination == broadcast-set contamination") {
    val corpus = docs.select($"doc_id", $"text")
    val evalSet = corpus.filter($"doc_id" % 53 === 0)
    val exact = Dedup.contaminationReport(corpus, evalSet,
      "doc_id", "text", k = 3)
    val bloomed = Dedup.contaminationReportBloom(corpus, evalSet,
      "doc_id", "text", k = 3)
    // the sketch admits false positives but the verify kills them, so
    // the two reports must be row-identical — both directions
    assert(exact.except(bloomed).count() == 0)
    assert(bloomed.except(exact).count() == 0)
    assert(bloomed.filter($"contaminated").count() > 0) // non-vacuous
  }

  test("bloom expression: no false negatives, bounded false positives") {
    val present = spark.range(1000)
      .selectExpr("CAST(id AS STRING) AS s")
    val bf = present.stat.bloomFilter("s", 1000, 0.01)
    import graft.functions.BloomExpression.mightContain
    // every inserted value must probe true — bloom filters cannot
    // false-negative, and the expression must hash identically to the
    // builder (UTF-8 bytes)
    assert(present.filter(!mightContain($"s", bf)).count() == 0)
    // absent values pass at ~fpp; 50× slack keeps the assert immune to
    // an unlucky sketch while still catching an always-true probe
    val absent = spark.range(10000, 20000)
      .selectExpr("CAST(id AS STRING) AS s")
    assert(absent.filter(mightContain($"s", bf)).count() < 5000)
    // long probes hit the mightContainLong path
    val bfL = spark.range(1000).stat.bloomFilter("id", 1000, 0.01)
    assert(spark.range(1000).filter(!mightContain($"id", bfL))
      .count() == 0)
  }

  test("text: topNgrams ranks by document frequency, ties gram-asc") {
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c x"), (3L, "a b c"),
      (4L, "z z z z")) // repeated in-doc shingle counts once
      .toDF("doc_id", "text")
    val got = TextOps.topNgrams(d, "text", k = 3, topN = 2)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b c", 3L), ("b c d", 1L)))
  }

  test("text: URL extraction, host normalization, blocklist flag") {
    val r = Seq(
      ("a", "pre https://Bad.Example.com/x?q=1 mid http://ok.org post"),
      ("b", "no urls here"),
      ("c", "https://ok.org/a https://ok.org/b")) // same host, deduped
      .toDF("id", "text")
      .select($"id",
        concat_ws(",", TextOps.hostsOf($"text")).as("hosts"),
        TextOps.hasBlockedHost($"text", Seq("bad.example.com")).as("blocked"))
      .as[(String, String, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r("a") == (("bad.example.com,ok.org", true))) // lowercased, sorted
    assert(r("b") == (("", false)))
    assert(r("c") == (("ok.org", false)))
  }

  test("text: URL canonicalization collapses scheme/www/tracking variants") {
    val got = Seq(
      "https://www.example.com/page/1?utm_source=x&id=2#frag",
      "http://example.com/page/1?id=2",
      "https://example.com/page/1/?utm_campaign=a",
      "example.com/page/1",
      "https://www.example.com/Page/1",    // path case preserved
      "http://site.org/a?utm_id=1",        // only param stripped, '?' too
      "http://site.org/a?fbclid=z&gclid=y",
      "http://example.com/a&b",            // literal path '&' untouched
      "http://e.com/p?utm_a=1&utm_b=2&id=3") // tracking run collapses
      .toDF("url")
      .select($"url", TextOps.canonicalizeUrl($"url").as("c"))
      .as[(String, String)].collect().toMap
    // the first two variants collapse: tracking param stripped with
    // the '?' repaired back onto the survivor param
    assert(got("https://www.example.com/page/1?utm_source=x&id=2#frag")
      == "example.com/page/1?id=2")
    assert(got("http://example.com/page/1?id=2") == "example.com/page/1?id=2")
    assert(got("https://example.com/page/1/?utm_campaign=a")
      == "example.com/page/1")
    assert(got("example.com/page/1") == "example.com/page/1")
    assert(got("https://www.example.com/Page/1") == "example.com/Page/1")
    assert(got("http://site.org/a?utm_id=1") == "site.org/a")
    assert(got("http://site.org/a?fbclid=z&gclid=y") == "site.org/a")
    // a PATH '&' (no query) must never be rewritten into a '?'
    assert(got("http://example.com/a&b") == "example.com/a&b")
    assert(got("http://e.com/p?utm_a=1&utm_b=2&id=3") == "e.com/p?id=3")
  }

  test("text: linear quality model score — exact features, sign gates keep") {
    val rows = Seq(
      (1L, ""),                    // empty: all features 0 -> bias only
      (2L, "the and of to in"),    // 5 tokens, all stopwords
      (3L, "!!! ???"))             // pure punctuation
      .toDF("doc_id", "text")
      .select($"doc_id", graft.functions.TextStatsExpression
        .textStats($"text", TextOps.langProfiles("en")).as("st"))
      .select($"doc_id",
        TextOps.qualityModelScore($"st").as("score"))
      .as[(Long, Double)].collect().toMap
    def expected(sw: Double, punct: Double, mtl: Double, n: Long): Double =
      2.0 * sw + -3.0 * punct + 0.15 * mtl + 0.5 * (n / 1000.0) + -1.0
    assert(rows(1L) == expected(0, 0, 0, 0)) // -1.0, rejected
    // "the and of to in": sw=1, punct=0, mean token len 12/5, n=5
    assert(rows(2L) == expected(1.0, 0, 12.0 / 5, 5))
    assert(rows(2L) > 0)
    // "!!! ???": 6 punct chars of 7, 0 stopwords, mtl 3, n=2
    assert(rows(3L) == expected(0, 6.0 / 7, 3.0, 2))
    assert(rows(3L) < 0)
  }

  test("dedup: corpus-level line dedup strips boilerplate, keeps order") {
    val corpus = Seq(
      (1L, "menu\nunique one\nfooter"),
      (2L, "menu\nunique two\nfooter"),
      (3L, "menu\nunique three\nfooter"),
      (4L, "menu\nfooter"),              // nothing survives
      (5L, "rare pair\nunique five"),
      (6L, "rare pair\nunique six"))     // "rare pair" in 2 docs = max -> kept
      .toDF("doc_id", "text")
    val out = Dedup.dedupCorpusLines(corpus, "doc_id", "text",
        maxOccurrences = 2L)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "unique one")      // menu (3 docs) + footer (4) gone
    assert(out(4L) == "")                // fully-boilerplate doc survives empty
    assert(out(5L) == "rare pair\nunique five") // at-threshold line kept, in order
    assert(out.size == 6)
    // blank separator lines are exempt from the kill list: paragraph
    // structure survives even when every doc has an empty line
    val paras = (0L until 5L).map(i => (i, s"para a$i\n\npara b$i"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpusLines(paras, "doc_id", "text", 2L)
      .as[(Long, String)].collect().toMap
    assert(kept(0L) == "para a0\n\npara b0", kept(0L))
  }

  test("dedup: domain-scoped boilerplate is relative — a small site's " +
      "100% template dies, the same count in a big domain survives") {
    val corpus = Seq(
      // domain A (5 docs): "banner a" in all 5 (100% >= 50% -> killed);
      // "promo" in 2 of 5 (40% < 50% -> kept)
      (1L, "a", "banner a\nbody one\npromo"),
      (2L, "a", "banner a\nbody two\npromo"),
      (3L, "a", "banner a\nbody three"),
      (4L, "a", "banner a\nbody four"),
      (5L, "a", "banner a"),             // fully boilerplate -> empty
      // domain B (10 docs): "banner b" in 5 of 10 (exactly 50% -> killed
      // at the >= threshold); "shared line" in 4 of 10 (kept) — the same
      // ABSOLUTE count that died in domain A survives here
      (11L, "b", "banner b\nshared line\nbody b1"),
      (12L, "b", "banner b\nshared line\nbody b2"),
      (13L, "b", "banner b\nshared line\nbody b3"),
      (14L, "b", "banner b\nshared line\nbody b4"),
      (15L, "b", "banner b\nbody b5"),
      (16L, "b", "body b6"), (17L, "b", "body b7"), (18L, "b", "body b8"),
      (19L, "b", "body b9"), (20L, "b", "body b10"),
      // domain C below minDomainDocs: its universal template is SPARED
      (21L, "c", "banner c\nbody c1"),
      (22L, "c", "banner c\nbody c2"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.stripDomainBoilerplate(corpus, "doc_id", "source",
        "text", minDomainDocs = 5L, minFraction = 0.5)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(out(1L) == (("body one\npromo", 1L)), out(1L))
    assert(out(5L) == (("", 1L)))                 // empty survivor, counted
    assert(out(11L) == (("shared line\nbody b1", 1L)), out(11L))
    assert(out(16L) == (("body b6", 0L)))
    assert(out(21L) == (("banner c\nbody c1", 0L))) // tiny domain untouched
    assert(out.size == corpus.count())
  }

  test("dedup: boilerplate serving arm — batch scrubs against the FROZEN " +
      "kill list; novel domains pass through; batch lines never feed " +
      "the counts (VERDICT r12 task 4)") {
    val hist = Seq(
      (1L, "a", "banner a\nbody one"), (2L, "a", "banner a\nbody two"),
      (3L, "a", "banner a\nbody three"), (4L, "a", "banner a\nbody four"),
      (5L, "a", "banner a\nbody five"))
      .toDF("doc_id", "source", "text")
    val dir = tempDir("graftboiler").toString
    Dedup.stageBoilerplateKillList(hist, "doc_id", "source", "text",
      dir, minDomainDocs = 5L, minFraction = 0.5)
    val staged = spark.read.parquet(dir)
    // artifact audit columns: thresholds baked in, hash not text
    assert(staged.columns.sorted.toSeq ==
      Seq("k", "min_domain_docs", "min_fraction_ppm", "source"))
    val batch = Seq(
      (10L, "a", "banner a\nfresh batch body"), // frozen kill applies
      // every batch doc carries "batch banner" — 100% of the BATCH's
      // domain-a docs, but batch lines never feed counts -> survives
      (11L, "a", "batch banner\nanother body"),
      (12L, "a", "batch banner\nbanner a"),
      (13L, "z", "banner z\nnovel domain body")) // unseen domain
      .toDF("doc_id", "source", "text")
    val got = Dedup.stripDomainBoilerplateAgainst(batch, "doc_id",
        "source", "text", staged)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(10L) == (("fresh batch body", 1L)), got(10L))
    assert(got(11L) == (("batch banner\nanother body", 0L)), got(11L))
    assert(got(12L) == (("batch banner", 1L)), got(12L))
    assert(got(13L) == (("banner z\nnovel domain body", 0L)), got(13L))
    // serving == full pass over (hist ∪ batch) restricted to batch ids
    // ONLY where the batch introduces no new over-threshold lines; doc
    // 10's row agrees, the batch-banner rows deliberately differ (the
    // resolveEntitiesAgainst convention: merges wait for the restage)
    val full = Dedup.stripDomainBoilerplate(hist.unionByName(batch),
        "doc_id", "source", "text", minDomainDocs = 5L,
        minFraction = 0.5)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(full(10L) == got(10L))
  }

  test("dedup: semantic decontamination drops within-threshold rows, " +
      "keeps all corpus columns; empty benchmark is identity") {
    val mk = (xs: Seq[Double]) => xs.map(_.toFloat).toArray
    val corpus = Seq(
      (100L, mk(Seq(1.0, 0.0)), "a"),   // cos 1.0 vs bench b1 -> dropped
      (101L, mk(Seq(0.9, 0.1)), "b"),   // cos ~0.994 -> dropped
      (102L, mk(Seq(0.0, 1.0)), "c"),   // orthogonal to both -> kept
      (103L, mk(Seq(-1.0, 0.0)), "d"),  // cos -1 -> kept
      (104L, mk(Seq(0.0, 0.0)), "e"))   // zero norm -> cos 0 -> kept
      .toDF("vec_id", "embedding", "tag")
    val bench = Seq((1L, mk(Seq(1.0, 0.0))), (2L, mk(Seq(2.0, 0.0))))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench,
        "vec_id", "embedding", threshold = 0.9)
      .select($"vec_id", $"tag").as[(Long, String)].collect().toMap
    assert(got == Map(102L -> "c", 103L -> "d", 104L -> "e"), got.toString)
    val empty = bench.filter($"vec_id" < 0L)
    val id = Similarity.semanticDecontaminate(corpus, empty,
        "vec_id", "embedding", threshold = 0.0)
      .select($"vec_id").as[Long].collect().toSet
    assert(id == Set(100L, 101L, 102L, 103L, 104L))
  }

  test("dedup: entity resolution closes typo chains transitively; " +
      "exact duplicates merge; singletons resolve to themselves") {
    val recs = Seq(
      (1L, "alpha"),   // root of the chain
      (2L, "alphq"),   // dist 1 of #1
      (3L, "alpqq"),   // dist 1 of #2, dist 2 of #1 — only the chain links it
      (4L, "zzzz"),    // singleton
      (5L, "alpha"))   // exact duplicate of #1 (dist 0)
      .toDF("rec_id", "name")
    val got = Dedup.resolveEntities(recs, "rec_id", "name", maxDist = 1)
      .select($"rec_id", $"entity_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L),
      got.toString)
  }

  test("dedup: incremental entity assignment — registry match takes the " +
      "min entity, novel names get per-string provisional ids, no " +
      "batch-internal fuzzy links") {
    val registry = Seq(
      (1L, "alpha", 1L), (2L, "alphq", 1L), (5L, "alpha", 1L),
      (4L, "zzzz", 4L))
      .toDF("rec_id", "name", "entity_id")
    val batch = Seq(
      (10L, "alphz"),       // dist 1 of "alpha" AND "alphq" -> entity 1
      (11L, "qqqq"),        // novel -> provisional 11
      (12L, "zzzy"),        // dist 1 of "zzzz" -> entity 4
      (13L, "brand new"),   // novel twins share the per-string min...
      (14L, "brand new"),
      (15L, "brand news"))  // ...but near-twins do NOT link in-batch
      .toDF("rec_id", "name")
    val got = Dedup.resolveEntitiesAgainst(batch, registry,
        "rec_id", "name", "entity_id", maxDist = 1)
      .select($"rec_id", $"entity_id").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 11L -> 11L, 12L -> 4L,
      13L -> 13L, 14L -> 13L, 15L -> 15L), got.toString)
  }

  test("dedup: entity resolution NULL names resolve to THEMSELVES — " +
      "not dropped, not unified with each other (ADVICE r12)") {
    val recs = Seq[(Long, String)](
      (1L, "alpha"), (2L, null), (3L, null), (4L, "alphq"))
      .toDF("rec_id", "name")
    val got = Dedup.resolveEntities(recs, "rec_id", "name", maxDist = 1)
      .select($"rec_id", $"entity_id").as[(Long, Long)].collect().toMap
    // named chain merges; each NULL record is its OWN entity
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L),
      got.toString)
    // collision guard (ADVICE r13): input already carrying entity_id
    // gets the serving arm's clear refusal, not an ambiguous-column
    // analysis error out of the nullNamed withColumn
    val ex = intercept[IllegalArgumentException] {
      Dedup.resolveEntities(recs.withColumn("entity_id", lit(0L)),
        "rec_id", "name", maxDist = 1)
    }
    assert(ex.getMessage.contains("collide"), ex.getMessage)
  }

  test("dedup: incremental assignment — NULL batch names become " +
      "per-RECORD provisional entities; output column is entityCol; " +
      "pre-existing entityCol column in records is refused") {
    val registry = Seq((1L, "alpha", 1L)).toDF("rec_id", "name", "ent")
    val batch = Seq[(Long, String)](
      (10L, "alphq"), (11L, null), (12L, null))
      .toDF("rec_id", "name")
    val got = Dedup.resolveEntitiesAgainst(batch, registry,
        "rec_id", "name", "ent", maxDist = 1)
      .select($"rec_id", $"ent").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 1L, 11L -> 11L, 12L -> 12L), got.toString)
    // collision guard: records already carrying the output column
    val ex = intercept[IllegalArgumentException] {
      Dedup.resolveEntitiesAgainst(batch.withColumn("ent", lit(0L)),
        registry, "rec_id", "name", "ent", maxDist = 1)
    }
    assert(ex.getMessage.contains("collide"), ex.getMessage)
  }

  test("dedup: semantic decontamination — shuffled-id fallback above " +
      "broadcastIdsMax is result-identical to the broadcast path") {
    val mk = (xs: Seq[Double]) => xs.map(_.toFloat).toArray
    val corpus = Seq(
      (100L, mk(Seq(1.0, 0.0))), (101L, mk(Seq(0.9, 0.1))),
      (102L, mk(Seq(0.0, 1.0))), (103L, mk(Seq(-1.0, 0.0))))
      .toDF("vec_id", "embedding")
    val bench = Seq((1L, mk(Seq(1.0, 0.0)))).toDF("vec_id", "embedding")
    val kept = (cap: Long) => Similarity.semanticDecontaminate(corpus,
        bench, "vec_id", "embedding", threshold = 0.9,
        broadcastIdsMax = cap)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept(4000000L) == Set(102L, 103L))
    assert(kept(0L) == Set(102L, 103L)) // forced shuffled anti join
  }

  test("dedup: semantic dedup pairs within clusters only; greedy survivors") {
    // centroid seed = the 2 lowest ids: [1,0] and [0,1]. 3,4 cluster
    // with centroid 0; 5 with centroid 1; 6 sits at exactly 45° — the
    // argmax tie must go to the LOWEST centroid index (cluster 0)
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.95f, 0.05f)),
      (5L, Seq(0.1f, 0.9f)), (6L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.95, nlist = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // within cluster 0: (1,3) (1,4) (3,4) clear 0.95; 6 pairs with
    // nobody (cos ≈ 0.707-0.79). within cluster 1: (2,5). the
    // cross-cluster near pair (3 vs 6 etc.) is never even scored
    assert(pairs == Set((1L, 3L), (1L, 4L), (3L, 4L), (2L, 5L)),
      pairs.toString)
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.95, nlist = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 6L), kept.toString)
  }

  test("dedup: semantic dedup accepts double vectors, empty input, rejects non-vector") {
    // array<double> input must behave identically to array<float>
    val dbl = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.9, 0.1)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticNearDupPairs(dbl, "vec_id", "embedding",
        threshold = 0.95, nlist = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
    // all-null vectors: no centroids can seed — empty pair set, not a
    // CentroidTopIds precondition failure
    val empty = Seq((1L, null: Seq[Float]), (2L, null: Seq[Float]))
      .toDF("vec_id", "embedding")
    val none = Dedup.semanticNearDupPairs(empty, "vec_id", "embedding",
      threshold = 0.9, nlist = 2)
    assert(none.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    assert(none.count() == 0)
    // a non-vector column fails at plan time with a named-column error
    val bad = intercept[IllegalArgumentException] {
      Dedup.semanticNearDupPairs(
        Seq((1L, "oops")).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9, nlist = 2)
    }
    assert(bad.getMessage.contains("embedding"), bad.getMessage)
  }

  test("dedup: substring spans mask all-but-first repeated windows") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // the same 10-token run embedded at offset 1 — doc 1 owns the
      // global first occurrence of each repeated window
      (2L, "x alpha beta gamma delta epsilon zeta eta theta iota kappa y"),
      (3L, "completely different words here nothing repeated at all ok fine"),
      // self-repeat: the first 8 tokens recur at offset 8 — keep-first
      // applies within one document too
      (4L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"),
      (5L, "tiny doc"))                  // < k tokens: untouched
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(corpus, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    // doc 2: windows at pos 1,2,3 repeat doc 1's pos 0,1,2 -> merged
    // span [1, 11); doc 4: window at pos 8 repeats its own pos 0
    assert(spans == Set((2L, 1L, 11L), (4L, 8L, 16L)), spans.toString)
    val cleaned = Dedup.substringDedup(corpus, "doc_id", "text", k = 8)
      .as[(Long, String)].collect().toMap
    assert(cleaned(1L) ==
      "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    assert(cleaned(2L) == "x y")
    assert(cleaned(3L) ==
      "completely different words here nothing repeated at all ok fine")
    assert(cleaned(4L) == "p1 p2 p3 p4 p5 p6 p7 p8")
    assert(cleaned(5L) == "tiny doc")
    assert(cleaned.size == 5)
  }

  test("dedup: exact by content keeps min id; groups found") {
    val base = docs.select($"doc_id", $"text")
    val dup = base.filter($"doc_id" < 5)
      .withColumn("doc_id", $"doc_id" + 100000)
    val all = base.unionByName(dup)
    val kept = Dedup.exactByContent(all, "doc_id", "text")
    assert(kept.count() == base.count())          // dups removed
    assert(kept.filter($"doc_id" >= 100000).count() == 0) // min id kept
    val groups = Dedup.duplicateGroups(all, "doc_id", "text")
    assert(groups.count() == 5)
    assert(groups.agg(max($"n")).as[Long].head() == 2)
  }

  test("dedup: minhash finds injected near-dups, survives re-run") {
    // near-dup: append one token to a 50-token doc => shingle overlap ~ 0.9
    val base = docs.select($"doc_id", $"text").filter($"doc_id" < 50)
    val near = base.filter($"doc_id" < 10)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" extraword")).as("text"))
    val all = base.unionByName(near)
    val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text",
      shingleK = 5, numHashes = 64, bands = 16, threshold = 0.5)
    val found = pairs.select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet
    // all 10 injected pairs recovered
    assert((0L until 10L).forall(i => found.contains((i, i + 100000))))
    // dedup drops the injected copies (higher ids)
    val deduped = Dedup.minhashDedup(all, "doc_id", "text",
      threshold = 0.5)
    assert(deduped.count() >= 50 - 2 && deduped.count() <= 50)
    assert(deduped.filter($"doc_id" >= 100000).count() == 0)
  }

  test("dedup: token-array minhash entry point is bit-identical to " +
      "array_join + shingleK=1 over the same token sets (the " +
      "q_frame_dedup contract, VERDICT r14 task 2)") {
    // token sets with controlled overlap: doc i carries tokens
    // i..i+19, so adjacent docs overlap 19/21 and distant ones ~0
    val toked = spark.range(0, 40).select($"id".as("doc_id"),
      transform(sequence($"id", $"id" + 19),
        t => concat(lit("t"), t.cast("string"))).as("toks"))
    val viaTokens = Dedup.minhashNearDupPairsTokens(toked, "doc_id",
        "toks", numHashes = 64, bands = 32, threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val viaText = Dedup.minhashNearDupPairs(
        toked.select($"doc_id", array_join($"toks", " ").as("text")),
        "doc_id", "text", shingleK = 1, numHashes = 64, bands = 32,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(viaTokens.nonEmpty, "fixture found no near-dup pairs")
    assert(viaTokens == viaText,
      s"token path diverged: $viaTokens vs $viaText")
  }

  test("dedup: incremental minhash == full-run pairs touching the new batch") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val base = docs.select("doc_id", "text")
    // history = docs 100+; new batch = docs <100 plus near-dups of 10
    // history docs (cross-epoch pairs) and 5 batch docs (intra-batch)
    val history = base.filter($"doc_id" >= 100)
    val crossDups = base.filter($"doc_id" >= 100 && $"doc_id" < 110)
      .select(($"doc_id" + 2000000).as("doc_id"),
        concat($"text", lit(" tail")).as("text"))
    val intraDups = base.filter($"doc_id" < 5)
      .select(($"doc_id" + 3000000).as("doc_id"),
        concat($"text", lit(" tail")).as("text"))
    val batch = base.filter($"doc_id" < 100)
      .unionByName(crossDups).unionByName(intraDups)
    val corpus = history.unionByName(batch)

    val staged = tempDir("graftstage").toString
    Dedup.stageBandKeys(history, "doc_id", "text", staged,
      numHashes = 64, bands = 32)
    val incr = Dedup.minhashNearDupPairsIncremental(batch, corpus,
        spark.read.parquet(staged), "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    val full = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val fullTouchingBatch = full.filter { case (x, y) =>
      batchIds.contains(x) || batchIds.contains(y) }

    assert(incr == fullTouchingBatch)
    // both pair families actually present
    assert(incr.exists { case (x, y) => x >= 100 && x < 110 && y >= 2000000 })
    assert(incr.exists { case (x, y) => x < 5 && y >= 3000000 })
    // parameter drift against the staged scheme is refused, not
    // silently joined into an empty pair set
    val drift = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupPairsIncremental(batch, corpus,
        spark.read.parquet(staged), "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.5)
    }
    assert(drift.getMessage.contains("staged band keys"))
    // a staged path that accumulated TWO epochs' schemes is refused
    // even when the probe matches one of them — a head-sampled guard
    // would pass and silently miss the other epoch's pairs
    val staged2 = tempDir("graftstage2").toString
    Dedup.stageBandKeys(history, "doc_id", "text", staged2,
      numHashes = 64, bands = 16)
    val mixed = spark.read.parquet(staged)
      .unionByName(spark.read.parquet(staged2))
    val mixedDrift = intercept[IllegalArgumentException] {
      Dedup.minhashNearDupPairsIncremental(batch, corpus, mixed,
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.5)
    }
    assert(mixedDrift.getMessage.contains("parameter schemes"))
  }

  test("dedup: incremental probe with an EMPTY batch returns no pairs, " +
      "does not hang, and still refuses scheme drift") {
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the r10 hang hazard this pins: the scheme check rides the
    // candidate job as observe metrics, and AQE may skip the staged
    // scan entirely when the batch side is empty — a blocking get
    // would wait forever on metrics that never fire; the probe must
    // fall back to the dedicated aggregate instead
    val base = docs.select("doc_id", "text")
    val history = base.filter(col("doc_id") >= 100)
    val empty = base.filter(col("doc_id") < 0)
    val staged = tempDir("graftstage3")
      .toString
    Dedup.stageBandKeys(history, "doc_id", "text", staged,
      numHashes = 64, bands = 32)
    val n = Await.result(Future {
      Dedup.minhashNearDupPairsIncremental(empty, history,
        spark.read.parquet(staged), "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5).count()
    }, 120.seconds)
    assert(n == 0)
    // the all-rows refusal must hold even when the candidate job never
    // scanned the staged side (the fallback-aggregate path)
    val drift = intercept[IllegalArgumentException] {
      Await.result(Future {
        Dedup.minhashNearDupPairsIncremental(empty, history,
          spark.read.parquet(staged), "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.5).count()
      }, 120.seconds)
    }
    assert(drift.getMessage.contains("staged band keys"))
  }

  test("dedup: connected-components closure vs greedy on a chain") {
    // chain 1~2, 2~0 (A~B~C with A≁C): one component, min id 0
    val pairs = Seq((0L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val corpus9 = Seq(0L, 1L, 2L, 9L).toDF("doc_id")
    val closure = Dedup.dedupByComponents(corpus9, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(closure == Set(0L, 9L))
    // greedy rule (minhashDedup's): drop any id that pairs with a
    // smaller one — keeps 1 (its only neighbor, 2, is larger), so the
    // two semantics genuinely differ on chains
    val greedy = corpus9.join(
        pairs.select($"id_b".as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .as[Long].collect().toSet
    assert(greedy == Set(0L, 1L, 9L) && greedy != closure)
    // long chain exercises multi-round propagation (diameter 5); a
    // disjoint pair proves components do not bleed into each other
    val chain = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (0L, 1L),
      (10L, 11L)).toDF("id_a", "id_b")
    val chainComp = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(chainComp ==
      ((0 to 5).map(_.toLong -> 0L) ++ Seq(10L -> 10L, 11L -> 10L)).toMap)
  }

  test("dedup: connected components converge in O(log n) rounds on an " +
      "adversarial chain (VERDICT r11 task 5)") {
    // a 256-node chain has diameter 255: plain min-label propagation
    // needs 255 full edge-join rounds (or refuses at maxIters=50),
    // while pointer-jumping compression collapses it in ~log2(n)
    // rounds. maxIters=16 is the pin: far under the diameter, with
    // headroom over the ~9 rounds the shape actually takes.
    val n = 256
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain, maxIters = 16, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == n)
    assert(comp.values.forall(_ == 0L),
      s"chain must collapse to component 0, got ${comp.values.toSet}")
    // ids placed ADVERSARIALLY along the chain (fixed-seed shuffle):
    // the log-round property must not depend on ids increasing along
    // the chain (where the minimum conveniently sits at one end)
    val rng = new scala.util.Random(42)
    val perm = rng.shuffle((0 until n).toList).map(_.toLong)
    val shuffled = (0 until n - 1).map(i => (perm(i), perm(i + 1)))
      .toDF("id_a", "id_b")
    val compS = Dedup.connectedComponents(shuffled, maxIters = 16, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(compS.size == n && compS.values.forall(_ == 0L),
      s"shuffled chain: got components ${compS.values.toSet}")
    // and a second disjoint chain keeps its own minimum
    val two = ((0 until 50).map(i => (i.toLong, i.toLong + 1)) ++
      (100 until 150).map(i => (i.toLong, i.toLong + 1)))
      .toDF("id_a", "id_b")
    val comp2 = Dedup.connectedComponents(two, maxIters = 16, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert((0 to 50).forall(i => comp2(i.toLong) == 0L))
    assert((100 to 150).forall(i => comp2(i.toLong) == 100L))
  }

  test("dedup: connected components — the small-graph union-find arm is " +
      "label-identical to FastSV on chains, cliques, stars and string " +
      "keys (round 13 gate)") {
    val rng = new scala.util.Random(7)
    val perm = rng.shuffle((0 until 200).toList).map(_.toLong)
    val longs = ((0 until 199).map(i => (perm(i), perm(i + 1))) ++ // chain
      Seq((500L, 501L), (501L, 502L), (500L, 502L)) ++            // clique
      (600 until 650).map(i => (599L, i.toLong)))                 // star
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(longs)
      .as[(Long, Long)].collect().toMap
    val fastsv = Dedup.connectedComponents(longs, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == fastsv, "long-key labels diverged")
    // string keys: the local ordering must match Spark's least()
    val strs = Seq(("b", "a"), ("c", "b"), ("Z", "a"), ("x", "y"))
      .toDF("id_a", "id_b")
    val localS = Dedup.connectedComponents(strs)
      .as[(String, String)].collect().toMap
    val fastsvS = Dedup.connectedComponents(strs, localMaxEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(localS == fastsvS, s"$localS vs $fastsvS")
    assert(localS("x") == "x" && localS("b") == "Z") // binary order: Z < a
  }

  test("dedup: simhash fingerprint determinism, hamming, blocking") {
    val a = "spark table join filter aggregate window shuffle partition"
    val df = Seq(
      (1L, a), (2L, a),  // identical -> hamming 0, must be found
      (3L, "completely different words about cooking pasta tonight")
    ).toDF("id", "text")
    // determinism: same text -> same fingerprint
    val fps = df.select($"id", Dedup.simhash64($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    // hamming64 is exact bit-count of xor
    val h = Seq((0x0FL, 0x00L)).toDF("a", "b")
      .select(Dedup.hamming64($"a", $"b")).as[Int].head()
    assert(h == 4)
    // portable md5 variant: same determinism/distinctness contract,
    // small hamming under a local edit, and empty docs emit no row
    val pf = Dedup.simhash60Portable(
        df.unionByName(Seq((4L, a + " extra"), (5L, "")).toDF("id", "text")),
        "id", "text")
      .as[(Long, Long)].collect().toMap
    assert(pf(1L) == pf(2L) && pf(1L) != pf(3L))
    assert(java.lang.Long.bitCount(pf(1L) ^ pf(4L)) <= 12)
    assert(!pf.contains(5L))
    val pairs = Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 3)
    val got = pairs.select($"id_a", $"id_b", $"hamming").collect()
    val p12 = got.find(r => r.getLong(0) == 1 && r.getLong(1) == 2)
    assert(p12.isDefined && p12.get.getAs[Int]("hamming") == 0)
    assert(!got.exists(r => r.getLong(1) == 3 || r.getLong(0) == 3))
  }

  test("dedup: ngram jaccard on explicit pairs") {
    val docs2 = Seq((1L, "a b c d e f"), (2L, "a b c d e g"),
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(pairs, docs2, "doc_id", "text", 2)
      .select($"id_a", $"id_b", round($"jaccard", 3).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got((1L, 2L)) == 0.667)  // 4 common of 6 distinct bigrams
    assert(got((1L, 3L)) == 0.0)
  }

  test("similarity: codegen cosine == builtin cosine; self-cos = 1") {
    val x = emb.select($"vec_id", $"embedding")
    val pairs = x.as("a").crossJoin(x.as("b"))
      .filter($"a.vec_id" < $"b.vec_id").limit(500)
      .select(
        VectorExpressions.cosine($"a.embedding", $"b.embedding").as("fast"),
        Similarity.cosineBuiltin($"a.embedding", $"b.embedding").as("ref"))
    // builtin zip_with multiplies in float before the double sum, so
    // allow float-level tolerance; the exact-double differential lives
    // in the brute-force topk test below
    val diffs = pairs.select(max(abs($"fast" - $"ref"))).as[Double].head()
    assert(diffs < 1e-6)
    val self = x.limit(5).select(
      VectorExpressions.cosine($"embedding", $"embedding")).as[Double]
      .collect()
    assert(self.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("similarity: l2-normalize unit norms; int8 quantize error bounded") {
    val n = Similarity.withL2Normalized(emb.limit(50), "embedding", "nvec")
    val norms = n.select(
      sqrt(aggregate($"nvec", lit(0.0d), (a, x) => a + x * x)).as("nn"))
      .as[Double].collect()
    assert(norms.forall(v => math.abs(v - 1.0) < 1e-9))

    val q = Similarity.withQuantizedInt8(emb.limit(50), "embedding")
    val errOk = q.select($"embedding", $"q_scale",
        Similarity.dequantizeInt8($"q_codes", $"q_scale").as("deq"))
      .as[(Seq[Float], Double, Seq[Double])].collect()
      .forall { case (orig, scale, deq) =>
        val bound = 0.5 / scale + 1e-12
        orig.zip(deq).forall { case (o, d) => math.abs(o - d) <= bound }
      }
    assert(errOk)
    // codes fit int8 range
    val inRange = q.select($"q_codes").as[Seq[Int]].collect()
      .forall(_.forall(c => c >= -128 && c <= 127))
    assert(inRange)
  }

  test("similarity: centroidTopIds == driver-side cosine ranking") {
    val cents: Seq[Seq[Float]] = emb.orderBy($"vec_id").limit(6)
      .select($"embedding").as[Seq[Float]].collect().toSeq
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val got = emb.limit(50).select($"vec_id",
        VectorExpressions.centroidTopIds($"embedding", cents, 3).as("ids"))
      .as[(Long, Seq[Int])].collect()
    val vecs = emb.limit(50).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, ids) =>
      val expect = cents.indices
        .sortBy(j => (-cos(vecs(id), cents(j)), j)).take(3)
      assert(ids == expect, s"vec $id: got $ids expected $expect")
    }
  }

  test("similarity: brute-force topk matches exact driver-side compute") {
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding")
    val nn = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5)
    assert(nn.count() == 20)
    // neighbors sorted desc within each query, exactly k of them
    val scores = nn.select($"neighbors.score").as[Seq[Double]].collect()
    assert(scores.forall(s => s.zip(s.tail).forall { case (a, b) => a >= b }))
    assert(scores.forall(_.size == 5))
    // differential oracle: exact top-5 computed driver-side in the same
    // double arithmetic (sequential dot over elements)
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 < 20).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, v) => (cos(v, qv), id) }
        .sortBy { case (s, i) => (-s, i) }.take(5).map(_._2).toSeq
    }.toMap
    val got = nn.select($"query_id", $"neighbors.id")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == expected)
  }

  test("similarity: lsh topk recall vs brute force is reasonable") {
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding")
    def flatten(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", explode($"neighbors.id").as("nid"))
        .as[(Long, Long)].collect().toSet
    val exact = flatten(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5))
    val approx = flatten(Similarity.lshTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5, planes = 4))
    // few planes => coarse buckets => decent recall; the point here is
    // the bucketing mechanics, not tuned recall on synthetic vectors
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.05, s"lsh recall $recall too low")
    assert(approx.nonEmpty)
    // multi-table: table 0 reuses the single-table planes, so its
    // candidate set is a superset — recall is monotone in L
    val multi = flatten(Similarity.lshTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5, planes = 4, tables = 4))
    val recallL = (exact & multi).size.toDouble / exact.size
    assert(recallL >= recall, s"multi-table recall $recallL < single $recall")
  }

  test("similarity: ivf with nprobe=nlist is exact; partial probe degrades gracefully") {
    val queries = emb.filter($"vec_id" < 15)
      .select($"vec_id".as("qid"), $"embedding")
    def flatten(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", explode($"neighbors.id").as("nid"))
        .as[(Long, Long)].collect().toSet
    val exact = flatten(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5))
    // probing every list == full scan == brute force
    val full = flatten(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5, nlist = 8, nprobe = 8))
    assert(full == exact)
    // partial probe: a subset of the work, still useful recall
    val partial = flatten(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5, nlist = 8, nprobe = 3))
    val recall = (exact & partial).size.toDouble / exact.size
    assert(recall > 0.2, s"ivf recall $recall")
    // Lloyd refinement produces lists at least as good as raw
    // sample-centroids at the same probe budget
    val unrefined = flatten(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", "qid", k = 5, nlist = 8, nprobe = 3, refineIters = 0))
    val recall0 = (exact & unrefined).size.toDouble / exact.size
    assert(recall >= recall0,
      s"refined recall $recall < unrefined $recall0")
  }

  test("similarity: ivf degrades to exact when corpus is smaller than nlist") {
    val tiny = emb.filter($"vec_id" < 6)
    val queries = tiny.select($"vec_id".as("qid"), $"embedding")
    def flatten(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", explode($"neighbors.id").as("nid"))
        .as[(Long, Long)].collect().toSet
    val exact = flatten(Similarity.bruteForceTopK(tiny, queries, "vec_id",
      "embedding", "qid", k = 3))
    // nlist/nprobe far beyond the corpus: must not fail plan
    // construction, and full probing of whatever exists == exact
    val got = flatten(Similarity.ivfTopK(tiny, queries, "vec_id",
      "embedding", "qid", k = 3, nlist = 16, nprobe = 16))
    assert(got == exact)
    // single-vector corpus degrades to brute force outright — plans
    // and runs (self excluded => no neighbor rows), no construction
    // failure
    val one = emb.filter($"vec_id" === 0)
    val q1 = one.select($"vec_id".as("qid"), $"embedding")
    assert(Similarity.ivfTopK(one, q1, "vec_id", "embedding", "qid",
      k = 3, nlist = 8, nprobe = 8).count() == 0)
  }

  test("neardup embedding: bucketed pairs ⊆ exact pairs, identical cosines") {
    // the benchOnly contract for the retired-from-oracle q_neardup_
    // embedding configuration: LSH bucketing only PRUNES candidates —
    // every pair it emits must appear in the lossless planes=0 run
    // with the exact same verified cosine
    import graft.operators.Dedup
    def pairs(planes: Int): Map[(Long, Long), Double] =
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.2, planes = planes)
        .select($"id_a", $"id_b", $"cosine")
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
    val exact = pairs(planes = 0)
    val bucketed = pairs(planes = 4)
    assert(bucketed.nonEmpty, "bucketed run found no pairs at all")
    bucketed.foreach { case (k, c) =>
      assert(exact.contains(k), s"pair $k not in the exact set")
      assert(exact(k) == c, s"pair $k cosine $c != exact ${exact(k)}")
    }
  }

  test("mediaNearDup: identical payloads at hamming 0; byte-edited " +
      "copy found near; unrelated payloads absent; banding == " +
      "brute force within threshold on this corpus") {
    val t1 = "the quick brown fox jumps over the lazy dog " * 8
    val corpus = Seq(
      (1L, t1), (2L, t1),                  // exact dup -> hamming 0
      (3L, t1 + " suffix edit"),           // near-dup of 1/2
      (4L, "completely different payload with other bytes " * 9))
      .toDF("doc_id", "text")
    val media = Multimodal.fromBinary(corpus, "doc_id", "text",
      "text/plain")
    val got = Multimodal.mediaNearDup(media, maxHamming = 8)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 0L)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == got((2L, 3L)))
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // banding recall: every brute-force pair within the threshold is
    // found (4x16-bit bands over <=8 differing bits cannot miss: 8
    // flipped bits can dirty at most 8 of... pigeonhole needs <=3
    // dirty bands to guarantee a clean one; verify empirically here)
    val feats = Multimodal.extractFeatures(media, dim = 65)
      .select($"media_id", Multimodal.dHashHalf(
          $"features".cast("array<double>"), 0).as("lo"),
        Multimodal.dHashHalf(
          $"features".cast("array<double>"), 32).as("hi"))
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      a <- feats; b <- feats if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if h <= 8
    } yield (a._1, b._1) -> h.toLong).toMap
    assert(got == brute, s"$got vs $brute")
  }

  test("multimodal: guarded codec seam — corrupt payload quarantines, " +
      "oversized rows never reach the decoder, one context per " +
      "partition closed on completion") {
    FlakyCodec.reset()
    val rows = Seq(
      (1L, "plain payload one"),
      (2L, "CORRUPT stream with a bad huffman table"),
      (3L, "plain payload two"),
      (4L, "x" * 300), // oversized vs the 100-byte guard
      (5L, "CORRUPT again"),
      (6L, "plain payload three"))
    val media = Multimodal.fromBinary(
      rows.toDF("doc_id", "text").repartition(3), "doc_id", "text",
      "text/plain")
    val got = Multimodal.extractFeaturesGuarded(media, dim = 8,
        codec = FlakyCodec, maxPayloadBytes = 100)
      .select($"media_id", $"status", $"err", size($"features"),
        $"checksum")
      .as[(Long, String, Option[String], Int, String)]
      .collect().sortBy(_._1)
    // nothing lost: every input row lands exactly once
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got.map(_._2).toSeq ==
      Seq("ok", "corrupt", "ok", "oversized", "corrupt", "ok"))
    // corrupt rows carry the decoder's message; ok rows carry features
    assert(got.filter(_._2 == "corrupt")
      .forall(_._3.exists(_.contains("corrupt payload"))))
    assert(got.filter(_._2 == "ok").forall(_._4 == 8))
    assert(got.filter(_._2 != "ok").forall(_._4 == 0))
    // the quarantined artifact stays content-addressable (K6): the
    // oversized row's checksum is its real md5
    val bigMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(("x" * 300).getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(got.find(_._1 == 4L).get._5 == bigMd5)
    // row-size guard: the decoder saw the 5 in-bound payloads only
    assert(FlakyCodec.decoded.get() == 5)
    // context amortization: one open per NON-EMPTY partition, not per
    // row, and every opened context was closed on task completion
    // (decode throws included)
    val parts = media.rdd.getNumPartitions
    assert(FlakyCodec.opened.get() > 0 && FlakyCodec.opened.get() <= parts)
    assert(FlakyCodec.closed.get() == FlakyCodec.opened.get())
  }

  test("multimodal: binary payload round-trip + stub feature extract") {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f =>
        (f.name, f.dataType.sql.replace(" NOT NULL", ""))).toSeq
    val media = Multimodal.fromBinary(
      docs.limit(10), "doc_id", "text", "text/plain")
    assert(shape(media.schema) == shape(Multimodal.mediaSchema))
    val dir = tempDir("graftmedia").toString
    media.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10)

    val feats = Multimodal.extractFeatures(back, dim = 8)
    assert(shape(feats.schema) == shape(Multimodal.featureSchema))
    val rows = feats.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Seq[Float]]("features").size == 8))
    // deterministic: same payload -> same checksum/features
    val again = Multimodal.extractFeatures(back, dim = 8)
      .select($"media_id", $"checksum").as[(Long, String)].collect().toMap
    rows.foreach(r => assert(
      again(r.getAs[Long]("media_id")) == r.getAs[String]("checksum")))
    // codec outputs are engine-portable: md5 hex checksum, exact
    // integer byte sums per mod-dim slot
    val one = back.filter($"media_id" === back.select(min($"media_id"))
      .as[Long].head()).select($"payload").as[Array[Byte]].head()
    val row = rows.minBy(_.getAs[Long]("media_id"))
    assert(row.getAs[String]("checksum") ==
      java.security.MessageDigest.getInstance("MD5").digest(one)
        .map(b => f"${b & 0xff}%02x").mkString)
    val want = new Array[Int](8)
    one.indices.foreach(i => want(i % 8) += one(i) & 0xFF)
    assert(row.getSeq[Float](row.fieldIndex("features"))
      .map(_.toInt).toSeq == want.toSeq)

    val resized = Multimodal.resizePayload(back, 16)
    assert(resized.select(max(length($"payload"))).as[Int].head() <= 16)
    val frames = Multimodal.sampleFrames(back, stride = 100)
    assert(frames.columns.toSeq == Seq("media_id", "frame_offsets"))
  }

  test("cdcChunks: chunks tile the document; boundaries are " +
      "shift-invariant; empty docs vanish") {
    // deterministic "random-ish" content so boundaries actually occur
    val payload = (1 to 60).map(i => s"w${i * 7 % 97}").mkString(" ")
    val docs = Seq(
      (1L, payload),
      (2L, "PREFIX-INSERTED! " + payload),  // same content, shifted
      (3L, "")                               // no chunks
    ).toDF("doc_id", "text")
    val got = Dedup.cdcChunks(docs, "doc_id", "text",
        window = 4, divisor = 8)
      .as[(Long, Int, Int, Int, String)].collect()
    assert(!got.exists(_._1 == 3L))
    // chunks tile each doc exactly: starts contiguous, lengths sum to n
    Seq(1L -> payload.length, 2L -> (payload.length + 17)).foreach {
      case (id, n) =>
        val cs = got.filter(_._1 == id).sortBy(_._2)
        assert(cs.head._3 == 1)
        assert(cs.map(_._4).sum == n, s"doc $id tiles")
        cs.sliding(2).foreach { case Array(a, b) =>
          assert(b._3 == a._3 + a._4, s"doc $id contiguous")
        case _ => ()
        }
    }
    // SHIFT INVARIANCE — the reason CDC exists: after the first
    // content-defined boundary, doc 2's chunks realign with doc 1's
    // despite the 17-char prefix (fixed-stride chunking would
    // misalign every block). Every doc-1 chunk except the first must
    // reappear verbatim in doc 2.
    val h1 = got.filter(_._1 == 1L).sortBy(_._2).map(_._5)
    val h2 = got.filter(_._1 == 2L).map(_._5).toSet
    assert(h1.length >= 3, s"need real boundaries, got ${h1.length} chunks")
    assert(h1.tail.forall(h2.contains), "shifted shared region realigns")
    // ...and the shared-region join surfaces exactly that pair
    val pairs = Dedup.cdcSharedRegions(docs, "doc_id", "text",
        window = 4, divisor = 8, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // n_shared counts DISTINCT shared hashes: at least the realigned
    // tail minus within-doc hash repeats
    assert(pairs.head._3 >= h1.tail.distinct.size - 2)
  }

  test("bpeLearn: hand-checked merges, deterministic ties, " +
      "sub-2-count stop; encode fold == HOF merge chain") {
    // "ab ab ab": (a,b) and (b,</w>) both count 3 — lexicographic tie
    // goes to (a,b); after fusing, (ab,</w>) is the only pair left
    val tiny = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    assert(TextOps.bpeLearn(tiny, "text", 2) ==
      Seq(("a", "b"), ("ab", "</w>")))
    // a pair seen once never merges (the <2 stop)
    assert(TextOps.bpeLearn(Seq((1L, "xy")).toDF("doc_id", "text"),
      "text", 5).isEmpty)
    // differential: the fused BpeEncode fold == the HOF merge chain
    // (per-stage localCheckpoint keeps the 3-self-reference lambda
    // from nesting) over the real corpus vocabulary
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val vocab = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .distinct()
    var ref = vocab.select(col("word"),
        concat(split(col("word"), ""),
          array(lit("</w>"))).as("s"))
      .localCheckpoint(true)
    TextQueries.bpeMerges.foreach { case (a, b) =>
      ref = ref.select(col("word"),
        TextOps.applyBpeMerge(col("s"), a, b).as("s")).localCheckpoint(true)
    }
    val refMap = ref.as[(String, Seq[String])].collect().toMap
    val fused = vocab.select(col("word"),
        graft.functions.TextExpressions.bpeEncode(col("word"),
          TextQueries.bpeMerges).as("s"))
      .as[(String, Seq[String])].collect().toMap
    assert(fused == refMap)
    // the learned merges COMPRESS: common corpus words encode to
    // fewer symbols than their raw codepoints+marker
    assert(fused("hash") == Seq("hash</w>"))
    assert(fused.forall { case (w, t) => t.size <= w.length + 1 })
  }

  test("CdcStarts codegen kernel == built-in conv/md5 formulation, " +
      "incl. multi-byte text") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      // inject a multi-byte char so the byte-offset table is exercised
      .select(col("doc_id"),
        concat(lit("café "), col("text")).as("text"))
    val diff = docs.select(
        graft.functions.TextExpressions.cdcStarts(col("text"), 8, 16)
          .as("fused"),
        Dedup.cdcStartsBuiltin(col("text"), 8, 16).as("ref"))
      .filter(!(col("fused") <=> col("ref")))
    assert(diff.count() == 0, diff.limit(3).collect().mkString(","))
    // the fully fused chunk table (boundary scan + per-chunk md5 in
    // one pass) == the composed starts/substr/md5 formulation
    val fusedChunks = Dedup.cdcChunks(docs, "doc_id", "text", 8, 16)
      .as[(Long, Int, Int, Int, String)].collect().toSet
    val refChunks = Dedup.cdcChunksBuiltin(docs, "doc_id", "text", 8, 16)
      .as[(Long, Int, Int, Int, String)].collect().toSet
    assert(fusedChunks == refChunks)
  }

  test("RandomProjection codegen kernel == built-in HOF formulation") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val fused = Similarity.randomProject(emb, "vec_id", "embedding",
      64, 16).as[(Long, Seq[Float])].collect().toMap
    val ref = Similarity.randomProjectBuiltin(emb, "vec_id", "embedding",
      64, 16).as[(Long, Seq[Float])].collect().toMap
    assert(fused == ref)
  }

  test("explodeFrames: per-frame byte slices, short tail, empty payload") {
    val media = Seq(
      (1L, "abcdefghij".getBytes("UTF-8")),   // 10 bytes
      (2L, Array.empty[Byte]),                // no frames
      (3L, "xyz".getBytes("UTF-8"))           // single short frame
    ).toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        lit(null).cast("string").as("meta"))
    val got = Multimodal.explodeFrames(media, stride = 4, frameLen = 4)
      .select(col("media_id"), col("frame_no"), col("frame_offset"),
        col("frame").cast("string"))
      .as[(Long, Int, Int, String)].collect().toSet
    assert(got == Set(
      (1L, 0, 1, "abcd"), (1L, 1, 5, "efgh"), (1L, 2, 9, "ij"),
      (3L, 0, 1, "xyz")))
  }

  test("sceneChanges: hand-checked L1 cuts; frame 0 opens; constant " +
      "payload never cuts") {
    // stride=2, frameLen=2, dim=2 → frames "ab","cd"... features are
    // per-slot byte sums: frame "ab" → [97, 98]. Payload 1 jumps at
    // the third frame ('a'*4 then 'z'*4): dist |97-97|*2=0 then
    // |122-97|*2=50 — cut at threshold 40, not at 0.
    val media = Seq(
      (1L, "aaaazzzz".getBytes("UTF-8")),
      (2L, "bbbbbb".getBytes("UTF-8"))) // constant: no cuts after 0
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        lit(null).cast("string").as("meta"))
    val got = Multimodal.sceneChanges(media, stride = 2, frameLen = 2,
        dim = 2, threshold = 40L)
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(got == Set(
      (1L, 0L, None, true), (1L, 1L, Some(0L), false),
      (1L, 2L, Some(50L), true), (1L, 3L, Some(0L), false),
      (2L, 0L, None, true), (2L, 1L, Some(0L), false),
      (2L, 2L, Some(0L), false)), got)
  }

  test("editDistanceJoin == brute-force levenshtein on part names") {
    val parts = spark.read.parquet(sf("sf0.001") + "/part.parquet")
      .select($"p_partkey".as("lid"), $"p_name".as("lname"))
    val variants = spark.read.parquet(sf("sf0.001") + "/part.parquet")
      .filter($"p_partkey" % 7 === 0)
      .select($"p_partkey".as("rid"),
        concat(substring($"p_name", 1, 2), lit("q"),
          substring($"p_name", 4, 10000)).as("rname"))
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistanceJoin(parts, variants, "lid", "rid",
          "lname", "rname", maxDist = d)
        .as[(Long, Long, Int)].collect().toSet
      val want = parts.crossJoin(variants)
        .withColumn("dist", levenshtein($"lname", $"rname"))
        .filter($"dist" <= d)
        .select($"lid", $"rid", $"dist")
        .as[(Long, Long, Int)].collect().toSet
      assert(got == want, s"maxDist=$d: blocked join must be lossless")
      assert(want.nonEmpty)
    }
  }

  test("editDistanceJoin: short and repetitive strings (bucket fallback)") {
    val l = Seq((1L, "ab"), (2L, "abc"), (3L, "aaaaaaaaaa"),
      (4L, "completely different words")).toDF("lid", "ls")
    val r = Seq((10L, "b"), (20L, "abcd"), (30L, "aaaaaaaaab"),
      (40L, "zq")).toDF("rid", "rs")
    val got = Dedup.editDistanceJoin(l, r, "lid", "rid", "ls", "rs",
        maxDist = 1)
      .as[(Long, Long, Int)].collect().toSet
    val want = l.crossJoin(r)
      .withColumn("dist", levenshtein($"ls", $"rs"))
      .filter($"dist" <= 1)
      .select($"lid", $"rid", $"dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    // the cases that need the short/repetitive bucket specifically
    assert(got.contains((1L, 10L, 1)))  // "ab" ~ "b" (both < q grams)
    assert(got.contains((3L, 30L, 1)))  // repetitive: 1 distinct gram
  }

  test("jaccardJoin == brute-force set Jaccard on document tokens") {
    val l = docs.select($"doc_id".as("lid"),
      TextOps.tokens($"text").as("lset"))
    val r = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id".as("rid"), TextOps.tokens($"text").as("rset"))
    for (tau <- Seq(0.4, 0.6)) {
      val got = Dedup.jaccardJoin(l, r, "lid", "rid", "lset", "rset", tau)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      val want = l.crossJoin(r)
        .withColumn("i",
          size(array_intersect(array_distinct($"lset"),
            array_distinct($"rset"))).cast("double"))
        .withColumn("j", $"i" / (size(array_distinct($"lset")) +
          size(array_distinct($"rset")) - $"i"))
        .filter($"j" >= tau)
        .select($"lid", $"rid").as[(Long, Long)].collect().toSet
      assert(got == want, s"tau=$tau: prefix filter must be lossless")
      assert(want.nonEmpty) // self-pairs guarantee non-triviality
    }
  }

  test("jaccardJoin: duplicate tokens collapse; empty sets match nothing") {
    val l = Seq((1L, Seq("a", "a", "b")), (2L, Seq[String]()),
      (3L, Seq("x", "y", "z", "w"))).toDF("lid", "lset")
    val r = Seq((10L, Seq("b", "a")), (20L, Seq("x", "y")))
      .toDF("rid", "rset")
    val got = Dedup.jaccardJoin(l, r, "lid", "rid", "lset", "rset", 0.5)
      .select($"lid", $"rid", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // {a,b} vs {b,a}: J = 1.0; {x,y,z,w} vs {x,y}: J = 0.5
    assert(got == Set((1L, 10L, 1.0), (3L, 20L, 0.5)))
  }

  test("preTokenize: letter runs, digit runs, single symbol marks") {
    val got = Seq("ab12 cd, 3.4-x", "", "no digits here!")
      .toDF("text")
      .select(TextOps.preTokenize($"text").as("p"))
      .select($"p.n_tokens", $"p.n_word", $"p.n_num", $"p.n_punct")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // "ab12 cd, 3.4-x" → ab,12,cd,',',3,'.',4,'-',x = 9 tokens:
    // 3 word (ab,cd,x), 3 num (12,3,4), 3 punct (',','.','-')
    assert(got(0) == ((9L, 3L, 3L, 3L)))
    assert(got(1) == ((0L, 0L, 0L, 0L)))
    assert(got(2) == ((4L, 3L, 0L, 1L)))
  }

  test("lexicalDiversity: exact TTR/Simpson; empty docs survive as 0") {
    val df = Seq(
      (1L, "a b a b a"), // n=5 d=2 sq=3²+2²=13
      (2L, "x"),         // n=1 d=1 → ttr 1, simpson 0
      (3L, "   ")        // tokenless → (0, 0, null, null)
    ).toDF("doc_id", "text")
    val got = TextOps.lexicalDiversity(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    assert(got(0) == ((1L, 5L, 2L, Some(0.4), Some(0.48))))
    assert(got(1) == ((2L, 1L, 1L, Some(1.0), Some(0.0))))
    assert(got(2) == ((3L, 0L, 0L, None, None)))
  }

  test("surprisal: exact unigram-LM math; rare tokens score higher") {
    // corpus: "the"×7, "cat"×2, "qq"×1, "zz"×1 → N=11
    val df = Seq(
      (1L, "the the the cat"),   // common-token doc
      (2L, "qq zz the"),         // rare-token doc
      (3L, "the the the cat"),   // duplicate of 1 (same score)
      (4L, "   ")                // tokenless → absent
    ).toDF("doc_id", "text")
    val got = TextOps.surprisal(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L)) // no row for the empty doc
    // doc1: ln11 − (3·ln7 + 1·ln2)/4
    val d1 = math.rint((math.log(11) -
      (3 * math.log(7) + math.log(2)) / 4) * 1e6) / 1e6
    // doc2: ln11 − (ln1 + ln1 + ln7)/3
    val d2 = math.rint((math.log(11) - math.log(7) / 3) * 1e6) / 1e6
    assert(got(0) == ((1L, 4L, d1)))
    assert(got(1) == ((2L, 3L, d2)))
    assert(got(2)._3 == d1) // identical doc, identical score
    assert(d2 > d1, "rare-token doc must be more surprising")
  }

  test("surprisal: head-vocab floor prices tail tokens at count 1") {
    // corpus counts: the=7, cat=2, qq=1, zz=1, N=11. headVocab=2
    // keeps {the, cat} (count-1 ties broken by token: cat first);
    // qq/zz fall to the floor ln(1)=0 — which equals their true
    // count, so the top-2 score matches exact, while a top-1 head
    // flattens cat (true count 2) onto the floor and shifts doc 1
    val df = Seq(
      (1L, "the the the cat"),
      (2L, "qq zz the"),
      (3L, "the the the cat")
    ).toDF("doc_id", "text")
    val exact = TextOps.surprisal(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val top2 = TextOps.surprisal(df, "doc_id", "text", headVocab = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(top2 == exact, "hapax tail floor must be exact here")
    val top1 = TextOps.surprisal(df, "doc_id", "text", headVocab = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // doc1 under top-1: ln11 − (3·ln7 + 1·ln1)/4
    val d1 = math.rint((math.log(11) - 3 * math.log(7) / 4) * 1e6) / 1e6
    assert(top1(1L) == d1, s"${top1(1L)} != $d1")
    assert(top1(1L) > exact(1L), "floored cat must raise the score")
  }

  test("surprisal: invariant under corpus duplication") {
    // p(t) = c_t/N is scale-free: replicating every document k times
    // multiplies both c_t and N by k, so every doc's score is
    // unchanged — the property that makes the signal comparable
    // across corpus sizes (and shards)
    val base = Seq((1L, "the cat sat"), (2L, "qq the zz"),
      (3L, "the the cat")).toDF("doc_id", "text")
    val doubled = base.union(base.select(($"doc_id" + 100).as("doc_id"),
      $"text"))
    val s1 = TextOps.surprisal(base, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val s2 = TextOps.surprisal(doubled, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    s1.foreach { case (id, v) =>
      assert(s2(id) == v, s"doc $id: $v -> ${s2(id)} after duplication")
      assert(s2(id + 100) == v) // the copy scores identically
    }
  }

  test("surprisalBigram: sees word order the unigram model cannot") {
    // both docs have the IDENTICAL unigram profile (3×a, 3×b) but
    // doc 1 alternates predictably while doc 2 scrambles — only the
    // bigram model separates them
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "a a b b b a"),
      (3L, "x")            // single token: no bigrams → absent
    ).toDF("doc_id", "text")
    val uni = TextOps.surprisal(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(uni(1L) == uni(2L), "unigram model must NOT separate them")
    val bi = TextOps.surprisalBigram(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(bi.keySet == Set(1L, 2L)) // no row for the 1-token doc
    assert(bi(2L) > bi(1L),
      s"scrambled ${bi(2L)} !> predictable ${bi(1L)}")
  }

  test("normalizeNfc: composes decomposed forms, idempotent, ASCII identity") {
    val composed = "caf" + "\u00e9"       // one codepoint
    val decomposed = "caf" + "\u0065" + "\u0301" // e + combining
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("id", "t")
    val got = df.select($"id", TextOps.normalizeNfc($"t").as("n"),
        TextOps.normalizeNfc(TextOps.normalizeNfc($"t")).as("nn"))
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == composed, "decomposed must compose")
    assert(got(2L)._2 == composed, "already-NFC passes through")
    assert(got(3L)._2 == "plain ascii")
    got.values.foreach(r => assert(r._2 == r._3, "must be idempotent"))
    // the curation consequence: the two spellings now dedup together
    val deduped = df.filter($"id" <= 2)
      .groupBy(TextOps.normalizeNfc($"t")).count()
      .as[(String, Long)].collect()
    assert(deduped.toSeq == Seq((composed, 2L)))
  }

  test("surprisalBigram head floor: pair-in-head/context-out stays a " +
      "probability (no negative surprisal)") {
    // pair (a,b)×12 tops the pair head at headVocab=1, but context c
    // (18 pair occurrences across the fillers) outranks context a
    // (12) for the single context-head slot. A 0-floored cprev would
    // price p̂(b|a) = (12+1)/(0+V) = 13/5 > 1 → NEGATIVE surprisal;
    // the floor must raise cprev to the known cpair instead
    val docs = ((1L to 12L).map(i => (i, "a b")) ++
      (100L to 102L).map(i => (i, "c x c y c x c y c x c y c")))
      .toDF("doc_id", "text")
    val got = TextOps.surprisalBigram(docs, "doc_id", "text",
        headVocab = 1)
      .as[(Long, Long, Double)].collect()
    got.foreach { case (id, _, s2) =>
      assert(s2 >= 0, s"doc $id: negative bigram surprisal $s2")
    }
    // the (a,b) docs specifically: ln((12+5)/(12+1)) = ln(17/13)
    val expect = math.rint(math.log(17.0 / 13.0) * 1e6) / 1e6
    assert(got.find(_._1 == 1L).get._3 == expect)
  }

  test("surprisalBigram is lazy: plan construction runs zero Spark " +
      "jobs, and pinInstances=false scores identically (ADVICE r11)") {
    val df = Seq((1L, "a b a b a b"), (2L, "a a b b b a"))
      .toDF("doc_id", "text")
    df.count() // materialize the input outside the measured window
    // listener events deliver async but FIFO: tag a marker action with
    // a job group, wait for the marker's event, then any construction-
    // time job would already have been delivered ahead of it
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        groups.add(Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = TextOps.surprisalBigram(df, "doc_id", "text")
      spark.sparkContext.setJobGroup("lazy-probe-marker", "")
      df.count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!groups.contains("lazy-probe-marker") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val beforeMarker = {
        import scala.jdk.CollectionConverters._
        groups.asScala.toSeq.takeWhile(_ != "lazy-probe-marker")
      }
      assert(beforeMarker.isEmpty,
        s"plan construction ran ${beforeMarker.size} jobs — the " +
          "eager-checkpoint regression (ADVICE r11)")
      val pinned = plan.as[(Long, Long, Double)].collect().sorted.toSeq
      val unpinned = TextOps
        .surprisalBigram(df, "doc_id", "text", pinInstances = false)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(pinned == unpinned,
        "dropping the instance pin must not change scores")
      assert(pinned.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dsirLogWeights: target-like docs outrank target-unlike docs") {
    // target vocabulary {alpha, beta}; the raw pool mixes target-like,
    // mixed and disjoint-vocabulary documents
    val raw = Seq(
      (1L, "alpha beta alpha beta"), // pure target vocabulary
      (2L, "alpha xx beta yy"),      // half
      (3L, "xx yy zz ww"),           // disjoint
      (4L, "")                       // tokenless → absent
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "alpha beta alpha"), (101L, "beta alpha beta")
    ).toDF("doc_id", "text")
    val w = TextOps.dsirLogWeights(raw, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(w.keySet == Set(1L, 2L, 3L))
    assert(w(1L) > w(2L), s"pure ${w(1L)} !> mixed ${w(2L)}")
    assert(w(2L) > w(3L), s"mixed ${w(2L)} !> disjoint ${w(3L)}")
    assert(w(1L) > 0 && w(3L) < 0,
      s"signs: pure ${w(1L)}, disjoint ${w(3L)}")
  }

  test("temperatureRebalance: sqrt shares, smallest stratum kept whole") {
    import graft.operators.Sampling
    // strata: a×8, b×2, null×1 → p(a)=sqrt(2/8)=0.5, p(b)=1.0
    val df = ((1L to 8L).map(i => (i, "a")) ++
      Seq((20L, "b"), (21L, "b"), (30L, null.asInstanceOf[String])))
      .toDF("id", "lang")
    val got = Sampling.temperatureRebalance(df, "id", "lang")
      .as[(Long, String, Double, Boolean)].collect()
    assert(got.length == 10) // null stratum dropped, nothing filtered
    val p = got.map(r => r._2 -> r._3).toMap
    assert(p == Map("a" -> 0.5, "b" -> 1.0), p.toString)
    // membership is the deterministic id-hash bucket, not chance
    got.foreach { case (id, _, prob, kept) =>
      val bucket = df.sparkSession.range(1)
        .select(Sampling.splitBucket(lit(id), 1000000)).as[Long].head()
      assert(kept == (bucket < prob * 1000000), s"id $id")
    }
    // every b row survives; kept set reproducible across runs
    assert(got.filter(_._2 == "b").forall(_._4))
    val again = Sampling.temperatureRebalance(df, "id", "lang")
      .as[(Long, String, Double, Boolean)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("pqEncode: nearest seed subvector per subspace, ties to lower code") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Seq(0f, 0f)),     // seed → code 0
      (1L, Seq(1f, 1f)),     // seed → code 1
      (10L, Seq(0.1f, 0.9f)), // j0 near seed0, j1 near seed1
      (11L, Seq(0.5f, 0.5f))  // equidistant → lower code wins
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(vecs, "vec_id", "embedding",
        dim = 2, subspaces = 2, codebookSize = 2)
      .as[(Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      (0L, 0) -> 0, (0L, 1) -> 0,   // seeds encode to themselves
      (1L, 0) -> 1, (1L, 1) -> 1,
      (10L, 0) -> 0, (10L, 1) -> 1, // nearest per subspace
      (11L, 0) -> 0, (11L, 1) -> 0  // exact tie → smaller code
    ), got.toString)
  }

  test("weightedSample: A-ES selection — deterministic, scale-invariant, " +
      "weight-gated") {
    import graft.operators.Sampling
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "w") // weight = id
      .union(Seq((200L, 0L), (201L, -5L)).toDF("id", "w"))
    val got = Sampling.weightedSample(df, "id", "w", k = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 10)
    // zero/negative weights can never be drawn
    assert(!got.exists(r => r._1 == 200L || r._1 == 201L))
    // the selection IS the top-10 of the recomputed keys
    val keys = (1L to 100L).map { i =>
      val b = spark.range(1)
        .select(Sampling.splitBucket(lit(i), 1000000)).as[Long].head()
      val key = math.rint(math.log((b + 0.5) / 1000000.0) / i * 1e9) / 1e9
      i -> key
    }
    val expect = keys.sortBy { case (i, k) => (-k, i) }.take(10)
      .map(_._1).toSet
    assert(got.map(_._1).toSet == expect)
    // A-ES invariance: scaling every weight by a constant divides
    // every key by it — the selected SET cannot change
    val scaled = Sampling.weightedSample(
        df.select(col("id"), (col("w") * 7).as("w")), "id", "w", 10)
      .as[(Long, Long, Double)].collect().map(_._1).toSet
    assert(scaled == got.map(_._1).toSet)
    // k beyond the population returns everyone with positive weight
    assert(Sampling.weightedSample(df, "id", "w", 1000).count() == 100)
  }

  test("centroidOutliers: exact z-scores; singleton labels never flag") {
    import graft.operators.Similarity
    // label a: 9×(0,0) + one (10,10). centroid (1,1); d_in = 2,
    // d_out = 162; μ = 18, E[x²] = 2628, σ² = 2304, σ = 48 →
    // z_out = (162−18)/48 = 3.0 exactly, z_in = −1/3
    val rows = (1L to 9L).map(i => (i, "a", Seq(0f, 0f))) ++
      Seq((10L, "a", Seq(10f, 10f)),
        (20L, "b", Seq(5f, 5f)),      // singleton label: z = 0
        (30L, null.asInstanceOf[String], Seq(1f, 1f))) // dropped
    val got = Similarity.centroidOutliers(
        rows.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding")
      .as[(Long, String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 11) // the null-label row is gone
    assert(got(10L) == ((10L, "a", 162.0, 3.0, true)))
    assert(got(1L) == ((1L, "a", 2.0, -0.3333, false)))
    assert(got(20L) == ((20L, "b", 0.0, 0.0, false)))
  }

  test("PqSqDist codegen kernel == built-in round/decimal formulation") {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions
    // real embedding subvectors: every (vec, other) pair at dim 8 —
    // the exact shapes the PQ pipeline evaluates
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("v"))
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("vid2"), col("v").as("w"))
        .filter(col("vid2") < 20))
    val diff = pairs.select(
        VectorExpressions.pqSqDist(col("v"), col("w")).as("fused"),
        Similarity.pqSqDistBuiltin(col("v"), col("w")).as("ref"))
      .filter(!(col("fused") <=> col("ref")))
    assert(diff.count() == 0, diff.limit(5).collect().mkString(","))
    // null-element and length-mismatch both null out, like zip_with
    val edge = Seq(
      (Seq(Some(1f), None), Seq(Some(1f), Some(2f))),
      (Seq(Some(1f)), Seq(Some(1f), Some(2f)))
    ).toDF("a", "b")
    assert(edge.select(VectorExpressions.pqSqDist(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("pqEncode: wrong-dim vector fails loudly, not with a wrong code") {
    import graft.operators.Similarity
    val bad = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 1f, 9f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqEncode(bad, "vec_id", "embedding",
        dim = 2, subspaces = 2, codebookSize = 1).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("expected 2")), e.toString)
  }

  test("kmeansLloyd: separable clusters converge; empty cluster keeps " +
      "its centroid and can recapture; partition-invariant") {
    import graft.operators.Similarity
    val two = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(10.0f, 10.0f)), (4L, Seq(10.0f, 11.0f)))
      .toDF("id", "vec")
    val got = Similarity.kmeansLloyd(two, "id", "vec", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    // the low pair and the high pair split cleanly; final centroids
    // are the pair means, so every dist is 0.5^2 x 1 dim = 0.25
    assert(got(1L)._1 == got(2L)._1 && got(3L)._1 == got(4L)._1)
    assert(got(1L)._1 != got(3L)._1)
    assert(got.values.forall(_._2 == 0.25))
    // duplicate seed vectors: everything ties to cluster 0 in round 1
    // (smaller-id rule), cluster 1 keeps its [0,0] centroid (the
    // coalesce path) and RECAPTURES the origin points in round 2
    val dup = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(5.0f, 5.0f))).toDF("id", "vec")
    val got2 = Similarity.kmeansLloyd(dup, "id", "vec", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(got2(1L) == ((1, 0.0)) && got2(2L) == ((1, 0.0)))
    assert(got2(3L) == ((0, 0.0)))
    // deterministic under repartitioning (decimal distances + exact
    // means leave nothing order-dependent)
    val rep = Similarity.kmeansLloyd(two.repartition(7), "id", "vec",
        k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(rep == got)
  }

  test("ivfPqSearchTopK: exhaustive probe == plain ADC; partial probe " +
      "honors the probed lists; frozen artifacts reproduce the inline build") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    def explodeNb(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), posexplode(col("neighbors"))
        .as(Seq("pos", "nb")))
      .select(col("query_id"), col("pos"), col("nb.id").as("nid"))
      .as[(Long, Int, Long)].collect().toSet
    // nprobe = nlist probes every list: the bucket filter passes
    // everything through, so the composed search IS the ADC search
    val full = explodeNb(Similarity.ivfPqSearchTopK(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
      codebookSize = 16, nlist = 8, nprobe = 8, k = 5))
    val adc = explodeNb(Similarity.pqSearchTopK(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
      codebookSize = 16, k = 5))
    assert(full == adc)
    // partial probe: every surviving neighbor's bucket must be one of
    // its query's nprobe probed buckets (recomputed via the same
    // 1-subspace coarse encode the operator uses)
    val coarse = Similarity.pqCodebook(emb, "vec_id", "embedding", 8)
    val partial = explodeNb(Similarity.ivfPqSearchAgainst(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8, nprobe = 2,
      k = 5, coarse,
      Similarity.pqCodebook(emb, "vec_id", "embedding", 16)))
    val bucketOf = Similarity.pqEncodeAgainst(emb, "vec_id", "embedding",
        64, 1, coarse)
      .select(col("vec_id"), col("code")).as[(Long, Int)].collect().toMap
    // probed lists per query = the 2 nearest coarse codes; derive them
    // from the exhaustive ADC of the coarse codebook itself (k = 2 over
    // the 8 "documents" = centroid vectors, self-matches allowed)
    val probed = Similarity.pqSearchAgainst(
        coarse.select(col("code").cast("long").as("vec_id"),
          col("vector").as("embedding")),
        queries, "vec_id", "embedding", "qid", dim = 64, subspaces = 1,
        coarse, k = 2, excludeSelf = false)
      .select(col("query_id"), col("neighbors.id"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(partial.nonEmpty)
    partial.foreach { case (q, _, nid) =>
      assert(probed(q).contains(bucketOf(nid).toLong),
        s"query $q neighbor $nid bucket ${bucketOf(nid)} not probed")
    }
    // frozen split == inline build (same deterministic artifacts)
    val inline2 = explodeNb(Similarity.ivfPqSearchTopK(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
      codebookSize = 16, nlist = 8, nprobe = 2, k = 5))
    assert(partial == inline2)
  }

  test("randomProject: md5 sign matrix replayed by hand; norms " +
      "preserved in the mean; wrong width fails loudly") {
    import graft.operators.Similarity
    // hand-replay the sign convention for a 2x2 projection of the
    // basis vectors: y_k of e_j is sign(k,j)/sqrt(2)
    def sign(k: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$j".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    val basis = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProject(basis, "vec_id", "embedding", 2, 2)
      .as[(Long, Seq[Float])].collect().toMap
    (0 until 2).foreach { j =>
      (0 until 2).foreach { k =>
        val want = math.rint(sign(k, j) / math.sqrt(2.0) * 1e6) / 1e6
        assert(got(j.toLong)(k) == want.toFloat, s"e_$j component $k")
      }
    }
    // E[|y|^2] = |x|^2 under random signs: the corpus-mean ratio must
    // sit near 1 (dimOut 16 concentrates well at n=100)
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val proj = Similarity.randomProject(emb, "vec_id", "embedding", 64, 16)
    def meanSq(df: org.apache.spark.sql.DataFrame, c: String) = df
      .select(aggregate(col(c), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double")).as("n2"))
      .agg(avg(col("n2"))).as[Double].head()
    val ratio = meanSq(proj, "projected") / meanSq(emb, "embedding")
    assert(ratio > 0.5 && ratio < 2.0, s"norm ratio $ratio")
    // determinism: the sign matrix is pure md5 — re-run is identical
    val again = Similarity.randomProject(emb, "vec_id", "embedding", 64, 16)
    assert(proj.as[(Long, Seq[Float])].collect().toMap ==
      again.as[(Long, Seq[Float])].collect().toMap)
    // wrong-width vector raises, never projects garbage
    val e = intercept[Exception] {
      Similarity.randomProject(basis, "vec_id", "embedding", 3, 2)
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("expected 3")), e.toString)
  }

  test("frozen dsirModel + dsirScoreAgainst == dsirLogWeights; " +
      "complete table scores sample-absent buckets") {
    val raw = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "alpha xx beta yy"),
      (3L, "xx yy zz ww")
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "alpha beta alpha"), (101L, "beta alpha beta")
    ).toDF("doc_id", "text")
    // model frozen from the SAME raw pool → scoring it back must
    // reproduce the self-referential weights exactly
    val model = TextOps.dsirModel(raw, target, "text")
    assert(model.count() == 1024) // complete bucket domain, always
    val frozen = TextOps.dsirScoreAgainst(raw, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val self = TextOps.dsirLogWeights(raw, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(frozen == self, s"$frozen != $self")
    // a doc whose vocabulary the model NEVER saw (neither raw nor
    // target) still scores — through the doubly-smoothed floor
    // buckets — instead of dropping rows or nulling
    val unseen = Seq((9L, "qqq www eee")).toDF("doc_id", "text")
    val got = TextOps.dsirScoreAgainst(unseen, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got.head._2 == 3L)
    assert(!got.head._3.isNaN)
  }

  test("invertedIndex: blocked postings, df rides along, minDf drops tail") {
    val corpus = Seq(
      (0L, "the cat"), (1L, "the dog"), (2L, "the the cat"),
      (3L, "rare")
    ).toDF("doc_id", "text")
    val idx = TextOps.invertedIndex(corpus, "doc_id", "text",
        nBlocks = 2, minDf = 2L)
      .as[(String, Long, Long, Long, Seq[Long])].collect()
    // "rare" (df 1) dropped; "the" df 3 split across blocks 0/1
    assert(!idx.exists(_._1 == "rare"))
    val the = idx.filter(_._1 == "the").sortBy(_._2)
    assert(the.map(_._2).toSeq == Seq(0L, 1L))
    assert(the.forall(_._3 == 3L)) // df on every block row
    assert(the(0)._5 == Seq(0L, 2L) && the(1)._5 == Seq(1L))
    // within-doc repeats ("the the") do not inflate df or postings
    assert(the.map(_._4).sum == 3L)
    val cat = idx.filter(_._1 == "cat")
    assert(cat.map(_._5.size).sum == 2 && cat.forall(_._3 == 2L))
    // blocks union to the token's full posting set, postings sorted
    assert(idx.forall(r => r._5 == r._5.sorted))
  }

  test("hashedTfidfEmbedding: unit norm, identical texts identical, " +
      "composes with cosine") {
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta eta"), (3L, "")
    ).toDF("doc_id", "text")
    val rows = TextOps.hashedTfidfEmbedding(corpus, "doc_id", "text",
        dim = 8)
      .as[(Long, Long, Double)].collect()
    val vecs = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(!vecs.contains(3L)) // empty doc emits nothing
    assert(vecs(0L).length == 8)
    // shared-token docs hash identically -> identical vectors
    assert(vecs(0L) == vecs(1L))
    // unit L2 norm (within the 6dp component rounding)
    val n0 = math.sqrt(vecs(0L).map(v => v * v).sum)
    assert(math.abs(n0 - 1.0) < 1e-4, s"norm $n0")
    // disjoint-vocab docs are (near-)orthogonal unless buckets
    // collide, and never identical
    assert(vecs(0L) != vecs(2L))
    // composes with the embedding family's cosine
    val cos = vecs(0L).zip(vecs(2L)).map { case (a, b) => a * b }.sum
    assert(cos < 0.99)
  }

  test("frozen hashedIdfModel: scoring the training corpus == inline; " +
      "OOV tokens take the tail idf") {
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val model = TextOps.hashedIdfModel(corpus, "text", headVocab = 100)
    // the reserved ""-token row carries N; every corpus token present
    val rows = model.as[(String, Double)].collect().toMap
    assert(rows("") == 3.0)
    assert(rows.contains("alpha") && rows.contains("eta"))
    val frozen = TextOps.hashedTfidfEmbeddingAgainst(corpus, "doc_id",
        "text", model, dim = 8)
      .as[(Long, Long, Double)].collect().toSet
    val inline = TextOps.hashedTfidfEmbedding(corpus, "doc_id", "text",
        dim = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(frozen == inline)
    // an unseen-vocabulary doc still embeds — every token at the tail
    // idf ln(N) — and lands unit-norm
    val oov = TextOps.hashedTfidfEmbeddingAgainst(
        Seq((9L, "qq ww")).toDF("doc_id", "text"), "doc_id", "text",
        model, dim = 8)
      .as[(Long, Long, Double)].collect()
    assert(oov.length == 8)
    val n = math.sqrt(oov.map(r => r._3 * r._3).sum)
    assert(math.abs(n - 1.0) < 1e-4)
  }

  test("kCenterCoreset: farthest-first on a hand-checked line; " +
      "max-min distances non-increasing; partitioning-invariant") {
    val pts = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(10.0f, 0.0f))).toDF("vec_id", "v")
    val got = Similarity.kCenterCoreset(pts, "vec_id", "v", 2, 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // seed = min id; then the farthest (10-0)^2=100; then id2 at
    // min(1, 81) = 1
    assert(got.toSeq == Seq((1L, 1L, 0.0), (2L, 3L, 100.0),
      (3L, 2L, 1.0)))
    val a = Similarity.kCenterCoreset(emb, "vec_id", "embedding", 64, 5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val b = Similarity.kCenterCoreset(emb.repartition(13), "vec_id",
        "embedding", 64, 5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.sameElements(b)) // decimal distances: bit-identical
    // Gonzalez invariant: the chosen max-min distance never grows
    a.drop(1).sliding(2).foreach {
      case Array(x, y) => assert(x._3 >= y._3, s"$x then $y")
      case _ =>
    }
    assert(a.map(_._2).distinct.length == 5) // 5 distinct exemplars
  }

  test("gramMatrix: exact cells on a hand-checked input; " +
      "partitioning-invariant") {
    // vectors (1,2), (3,4): AtA = [[10,14],[14,20]]
    val df = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)).toDF("v")
    val got = Similarity.gramMatrix(df, "v", 2)
      .select($"i", $"j", $"g".cast("double"))
      .as[(Int, Int, Double)].collect().toSet
    assert(got == Set((0, 0, 10.0), (0, 1, 14.0), (1, 1, 20.0)))
    // malformed rows (null / wrong length) are dropped, not nulled in
    val dirty = Seq(Some(Seq(1.0f, 2.0f)), None, Some(Seq(9.9f)))
      .toDF("v")
    assert(Similarity.gramMatrix(dirty, "v", 2)
      .as[(Int, Int, java.math.BigDecimal)].collect().toSet
      .map((t: (Int, Int, java.math.BigDecimal)) =>
        (t._1, t._2, t._3.doubleValue)) ==
      Set((0, 0, 1.0), (0, 1, 2.0), (1, 1, 4.0)))
    val a = Similarity.gramMatrix(emb, "embedding", 64).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2))).toSet
    val b = Similarity.gramMatrix(emb.repartition(13), "embedding", 64)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDecimal(2))).toSet
    assert(a == b) // exact-decimal cells: bit-identical, any partitioning
  }

  test("pcaTopComponent: recovers the dominant direction, unit norm, " +
      "partitioning-invariant") {
    // strongly anisotropic: variance concentrated on axis 0
    val rows = (1 to 40).map { i =>
      Seq((if (i % 2 == 0) 1.0f else -1.0f) * (3.0f + i % 5),
        0.01f * (i % 7), 0.02f * (i % 3))
    }
    val df = rows.toDF("v")
    val w = Similarity.pcaTopComponent(df, "v", 3, steps = 3)
    assert(math.abs(w(0)) > 0.99, w.mkString(","))
    assert(math.abs(math.sqrt(w.map(x => x * x).sum) - 1.0) < 1e-4)
    val w2 = Similarity.pcaTopComponent(df.repartition(7), "v", 3,
      steps = 3)
    assert(w.sameElements(w2)) // decimal chain: bit-identical
  }

  test("pmiCollocations: hand-checked values, hapax gate, bounded " +
      "top-k plan") {
    // "a b a b": pairs (a,b)x2, (b,a)x1; N=3; prev margins a:2 b:1;
    // cur margins b:2 a:1 → pmi(a,b)=ln(2·3/(2·2)), pmi(b,a)=ln(3)
    val df = Seq("a b a b").toDF("text")
    val got = TextOps.pmiCollocations(df, "text", minCount = 1L, k = 10)
      .as[(String, String, Long, Double)].collect().toSet
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set(("a", "b", 2L, r6(math.log(1.5))),
      ("b", "a", 1L, r6(math.log(3.0)))))
    // minCount gates the singleton pair
    val gated = TextOps.pmiCollocations(df, "text", minCount = 2L, k = 10)
      .as[(String, String, Long, Double)].collect().toSet
    assert(gated.map(t => (t._1, t._2)) == Set(("a", "b")))
    // top-k plans bounded per-partition heaps, never a full sort
    val plan = TextOps.pmiCollocations(docs, "text", 5L, 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("rakeKeywords: hand-checked deg/freq scores, run splitting, " +
      "minOcc and maxWords gates") {
    // phrases across both docs: [deep learning] x3, [ai] x3
    // deg(deep)=deg(learning)=6 over freq 3 -> 2.0; ai: 3/3 -> 1.0
    // so score(deep learning)=4.0, score(ai)=1.0 — all exact
    val df = Seq(
      (1L, "deep learning the deep learning the ai"),
      (2L, "deep learning the ai the ai")).toDF("doc_id", "text")
    val got = TextOps.rakeKeywords(df, "doc_id", "text",
        stopwords = Seq("the"), minOcc = 2L, maxWords = 6)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(("deep learning", 2L, 3L, 4.0), ("ai", 1L, 3L, 1.0)))
    // minOcc prunes output only — "ai" keeps its stats-driven score
    val pruned = TextOps.rakeKeywords(df, "doc_id", "text",
        Seq("the"), minOcc = 3L, maxWords = 6)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(pruned == got)
    // a run longer than maxWords disappears entirely
    val long = TextOps.rakeKeywords(df, "doc_id", "text",
        Seq("the"), minOcc = 1L, maxWords = 1)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(long.map(_._1) == Set("ai"))
  }

  test("bm25TopK: hand-computed scores, rank order, bounded top-k " +
      "plan (no rank window)") {
    val corpus = Seq((1L, "x x y"), (2L, "x z"), (3L, "w w"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "x y"), (200L, "zz")).toDF("qid", "qtext")
    val got = TextOps.bm25TopK(corpus, "doc_id", "text", queries,
        "qid", "qtext", k1 = 1.2, b = 0.75, k = 5)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=3, avgdl=7/3; idf(x)=ln(1+1.5/2.5), idf(y)=ln(1+2.5/1.5)
    val avgdl = 7.0 / 3.0
    def term(tf: Long, df: Long, dl: Long) =
      r(math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 12)
    val d1 = r(term(2, 2, 3) + term(1, 1, 3), 6) // x twice + y once
    val d2 = r(term(1, 2, 2), 6)                 // x once
    assert(got(100L).map(t => (t._3, t._4)).toSeq ==
      Seq((1L, d1), (2L, d2)))
    assert(!got.contains(200L)) // no matching term → no rows
    // scale shape: candidates by token equi-join + bounded top-k
    // aggregate — never a rank window over the candidate set
    val plan = TextOps.bm25TopK(docs, "doc_id", "text",
        docs.limit(3).select($"doc_id".as("qid"),
          substring($"text", 1, 30).as("qtext")),
        "qid", "qtext")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("topkbyscore") || plan.contains("TopKByScore"),
      plan)
    // df ceiling: 'x' (df 2/3) pruned at 0.5, 'y' (df 1/3) kept —
    // scores become y-only; df itself still counts the full corpus
    val pruned = TextOps.bm25TopK(corpus, "doc_id", "text", queries,
        "qid", "qtext", maxDfFraction = 0.5, k = 5)
      .as[(Long, Long, Long, Double)].collect()
      .filter(_._1 == 100L).map(t => (t._3, t._4)).toSet
    assert(pruned == Set((1L, r(term(1, 1, 3), 6))))
  }

  test("mergePhrases: greedy leftmost, chains resolve sequentially, " +
      "native fold == per-merge HOF") {
    val df = Seq(
      (1L, "new york city tour"),
      (2L, "new new york york"),
      (3L, "a new york new york b"),
      (4L, "")).toDF("id", "text")
    val phrases = Seq(("new", "york"), ("york", "city"))
    val got = TextOps.mergePhrases(df, "id", "text", phrases)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // (new,york) consumes york, so (york,city) no longer fires on
    // doc 1 — word2phrase's sequential-greedy contract
    assert(got(1L) == (("new_york city tour", 4L, 1L)))
    assert(got(2L) == (("new new_york york", 4L, 1L)))
    assert(got(3L) == (("a new_york new_york b", 6L, 2L)))
    assert(got(4L) == (("", 0L, 0L)))
    // differential: the native fold == one materialized HOF pass per
    // merge (the applyPhraseMerge reference semantics)
    val hof = phrases.foldLeft(
        df.select($"id", TextOps.tokens($"text").as("m"))) {
      case (d, (a, b)) =>
        d.select($"id", TextOps.applyPhraseMerge($"m", a, b).as("m"))
          .localCheckpoint(true)
    }.select($"id", array_join($"m", " ").as("t"))
      .as[(Long, String)].collect().toMap
    assert(got.view.mapValues(_._1).toMap == hof)
    // real corpus: the frozen table actually fires somewhere
    val n = TextOps.mergePhrases(docs, "doc_id", "text",
        TextQueries.phraseTable)
      .agg(sum($"n_merged")).as[Long].head()
    assert(n > 0L)
  }

  test("gramMatrix is mergeable: gram(A ++ B) == cell-wise sum of " +
      "per-shard matrices (incremental second moments)") {
    val a = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)).toDF("v")
    val b = Seq(Seq(-1.0f, 0.5f)).toDF("v")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Similarity.gramMatrix(df, "v", 2).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val merged = (cells(a).toSeq ++ cells(b).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2)
        .reduce(_.add(_))).toMap
    val full = cells(a.union(b))
    assert(full.keySet == merged.keySet)
    full.foreach { case (k, v) =>
      assert(v.compareTo(merged(k)) == 0, s"cell $k: $v != ${merged(k)}")
    }
  }

  test("pcaProject: exact decimal fold; wrong-length rows dropped") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(0.5f, -1.0f)),
      (3L, Seq(9.0f))).toDF("id", "v")
    val got = Similarity.pcaProject(df, "id", "v", Seq(0.6, 0.8))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 2.2, 2L -> -0.5)) // 3L dropped (len 1)
  }

  test("pcaWhiten fused kernel == built-in HOF formulation, " +
      "bit-for-bit") {
    val w = Similarity.pcaTopComponent(emb, "embedding", 64, steps = 3)
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", posexplode($"whitened").as(Seq("j", "wv")))
      .as[(Long, Int, Double)].collect().toSet
    val fused = flat(Similarity.pcaWhiten(emb, "vec_id", "embedding",
      w.toSeq))
    val builtin = flat(Similarity.pcaWhitenBuiltin(emb, "vec_id",
      "embedding", w.toSeq))
    assert(fused == builtin && fused.size == 500 * 64)
    // null-element and wrong-length vectors drop in BOTH forms
    val dirty = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(0.5))).toDF("id", "v")
    assert(Similarity.pcaWhiten(dirty, "id", "v", Seq(0.6, 0.8))
      .count() == 1L)
  }

  test("pcaWhiten: residual projection onto the stripped direction " +
      "is ~0; norms shrink") {
    val w = Similarity.pcaTopComponent(emb, "embedding", 64, steps = 3)
    val white = Similarity.pcaWhiten(emb, "vec_id", "embedding", w.toSeq)
    val resid = white.select(
        aggregate(zip_with(col("whitened"),
          array(w.map(lit(_)): _*),
          (x, wj) => x * wj), lit(0.0), (a, b) => a + b).as("r"))
      .as[Double].collect()
    assert(resid.forall(r => math.abs(r) < 1e-3),
      s"max residual ${resid.map(math.abs).max}")
    // whitening removes energy: mean squared norm strictly drops
    def msn(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(aggregate(col(c).cast("array<double>"), lit(0.0),
        (a, x) => a + x * x).as("n")).as[Double].collect().sum
    assert(msn(white, "whitened") < msn(emb, "embedding"))
  }

  test("invertedIndex is mergeable: index(A ++ B) == blockwise merge " +
      "of per-shard indexes (incremental maintenance)") {
    // the incremental-update story: index new docs separately, merge
    // per (token, block) by concat+sort, recompute df, re-gate minDf
    val a = Seq((0L, "x y"), (1L, "x z")).toDF("doc_id", "text")
    val b = Seq((2L, "x y"), (3L, "w")).toDF("doc_id", "text")
    def idx(df: org.apache.spark.sql.DataFrame) =
      TextOps.invertedIndex(df, "doc_id", "text", nBlocks = 2, minDf = 1L)
    val full = idx(a.union(b))
      .as[(String, Long, Long, Long, Seq[Long])].collect().toSet
    val merged = idx(a).union(idx(b))
      .groupBy(col("token"), col("block"))
      .agg(sum(col("n_docs")).as("n_docs"),
        array_sort(flatten(collect_list(col("postings")))).as("postings"))
    val dfTab = merged.groupBy(col("token"))
      .agg(sum(col("n_docs")).as("df"))
    val got = merged.join(dfTab, "token")
      .select(col("token"), col("block"), col("df"), col("n_docs"),
        col("postings"))
      .as[(String, Long, Long, Long, Seq[Long])].collect().toSet
    assert(got == full, s"$got != $full")
  }
}

/** Fake "native" codec for the guarded-seam spec: throws on payloads
  * starting with CORRUPT (a decoder hitting a bad stream), and counts
  * context opens/closes and decode calls through JVM-wide atomics
  * (valid under local[*] — executor threads share the test JVM).
  */
object FlakyCodec extends graft.operators.Multimodal.MediaCodec {
  val opened = new java.util.concurrent.atomic.AtomicInteger
  val closed = new java.util.concurrent.atomic.AtomicInteger
  val decoded = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { opened.set(0); closed.set(0); decoded.set(0) }
  def open(): graft.operators.Multimodal.MediaCodecContext = {
    opened.incrementAndGet()
    new graft.operators.Multimodal.MediaCodecContext {
      def decode(payload: Array[Byte], dim: Int): Array[Float] = {
        decoded.incrementAndGet()
        if (new String(payload, 0, math.min(7, payload.length), "UTF-8")
            == "CORRUPT")
          throw new RuntimeException("corrupt payload: bad stream header")
        graft.operators.Multimodal.StubCodec.decode(payload, dim)
      }
      def close(): Unit = closed.incrementAndGet()
    }
  }
}
