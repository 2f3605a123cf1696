package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount and subword estimate") {
    val df = Seq("one two three", "internationalization").toDF("text")
    val out = df.select(
      TextAnalysis.tokenCount($"text").as("t"),
      TextAnalysis.subwordCountEstimate($"text").as("s"))
      .as[(Int, Long)].collect()
    assert(out(0) == ((3, 4)))       // 3+3+5 chars -> 1+1+2 subwords
    assert(out(1) == ((1, 5)))       // 20 chars -> ceil(20/4) = 5
  }

  test("fingerprint is whitespace- and case-invariant") {
    val df = Seq("Hello   World", "hello world", "hello  world ").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("qualityCut: exact gate keeps threshold ties; approx path agrees") {
    // interpolated p25 of {1..5} is 2.0 -> rows AT the threshold are kept
    val mini = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0))
      .toDF("id", "q")
    val kept = TextAnalysis.qualityCut(mini, "q", 0.25, exact = true)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L, 5L))
    // on the real corpus the approx (t-digest) path — the 100 TB
    // default — matches the exact baseline to within a sliver
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    val scored = graft.core.Tables.documents(spark, sf).select($"doc_id",
      TextAnalysis.qualityScore($"text", stop).as("quality"))
    val n = scored.count()
    val exIds = TextAnalysis.qualityCut(scored, "quality", 0.25, exact = true)
      .select("doc_id").as[Long].collect().toSet
    val apIds = TextAnalysis.qualityCut(scored, "quality", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(exIds.size >= (n * 0.74).toInt && exIds.size < n)
    val diff = (exIds diff apIds) ++ (apIds diff exIds)
    assert(diff.size <= (n * 0.02).toInt,
      s"approx vs exact cut differ on ${diff.size} of $n docs")
  }

  test("stratifiedQualityCut keeps each group's own top (1-frac)") {
    // a global p25 cut over all 8 scores (thr 2.75) would delete half
    // the low group; the stratified cut keeps 3 of 4 in EACH group
    val mini = Seq(
      (1L, "lo", 1.0), (2L, "lo", 2.0), (3L, "lo", 3.0), (4L, "lo", 4.0),
      (5L, "hi", 10.0), (6L, "hi", 20.0), (7L, "hi", 30.0), (8L, "hi", 40.0))
      .toDF("id", "grp", "q")
    val strat = TextAnalysis.stratifiedQualityCut(mini, "grp", "q", 0.25,
        exact = true)
      .select("id").as[Long].collect().toSet
    assert(strat == Set(2L, 3L, 4L, 6L, 7L, 8L))
    val global = TextAnalysis.qualityCut(mini, "q", 0.25, exact = true)
      .select("id").as[Long].collect().toSet
    assert(global == Set(3L, 4L, 5L, 6L, 7L, 8L),
      "global cut deletes the low stratum's rows")
    // the approx default returns a data point as the threshold (no
    // interpolation), so on 4-row groups it can only cut at or below
    // the exact threshold — never drop a row the exact cut keeps
    val approx = TextAnalysis.stratifiedQualityCut(mini, "grp", "q", 0.25)
      .select("id").as[Long].collect().toSet
    assert(strat.subsetOf(approx))
  }

  test("topTokensPerGroup counts within group, ties break by token") {
    val df = Seq(
      ("en", "b b a a c"), ("en", "a b"),
      ("fr", "x y x")).toDF("grp", "text")
    val out = TextAnalysis.topTokensPerGroup(df, "grp", "text", 2)
      .select("grp", "token", "n", "rank")
      .as[(String, String, Long, Int)].collect().toSet
    // en: a=3, b=3 (tie → a first), c=1 cut; fr: x=2, y=1
    assert(out == Set(
      ("en", "a", 3L, 1), ("en", "b", 3L, 2),
      ("fr", "x", 2L, 1), ("fr", "y", 1L, 2)))
  }

  test("langId picks the profile language; ties break alphabetically") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "el gato es un animal y que los perros",
      "der hund ist nicht ein tier mit der katze",
      "xyzzy qwerty asdf").toDF("text")
    val out = df.select(TextAnalysis.langId($"text")).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "de", "de")) // all-zero ties -> first profile
  }

  test("quality features are bounded and deterministic") {
    val df = Seq("the quick brown fox!! of and a ???", "x").toDF("text")
    val rows = df.select(Seq(lit(1).as("k")) ++
      TextAnalysis.qualityFeatures($"text", Seq("the", "of", "and", "a")): _*).collect()
    val r = rows(0)
    assert(r.getAs[Double]("punct_ratio") > 0 && r.getAs[Double]("punct_ratio") < 1)
    assert(r.getAs[Double]("stopword_ratio") === 0.5)
  }

  test("repetition ratio and max-token ratio flag degenerate documents") {
    val df = Seq(
      (1L, "spam spam spam spam"),          // one token repeated
      (2L, "all tokens here are distinct"), // clean
      (3L, "buy now buy now buy gold now")) // dominated by two tokens
      .toDF("id", "text")
    val out = df.select($"id",
      TextAnalysis.repetitionRatio($"text").as("rep"),
      TextAnalysis.maxTokenRatio($"text").as("mtr"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (0.75, 1.0))   // 1 distinct of 4; 'spam' is 4/4
    assert(out(2L) == (0.0, 0.2))    // all distinct; any token is 1/5
    assert(out(3L) == (0.571429, 0.428571)) // buy/now 3 of 7, 6-dp rounded
  }

  test("redactPii replaces emails, IPs, phones with typed placeholders") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "host 10.0.0.1 and call 555-123-4567",
      "clean text stays untouched").toDF("text")
    val out = df.select(TextAnalysis.redactPii($"text").as("r"),
      TextAnalysis.piiCount($"text").as("n")).as[(String, Int)].collect()
    assert(out(0) == ("mail <EMAIL> now", 1))
    assert(out(1) == ("host <IP> and call <PHONE>", 2))
    assert(out(2) == ("clean text stays untouched", 0))
  }

  test("packSequences: shard-local running sum cuts at the token budget") {
    // one shard (ids all even, shards=2 -> shard 0), 3-token docs,
    // budget 5: chunks break at cumulative 0,3 | 6,9 | 12
    val df = (0L until 5L).map(i => (i * 2, "a b c")).toDF("id", "text")
    val out = TextAnalysis.packSequences(df, "id", "text", budget = 5, shards = 2)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._4) == Seq(0L, 0L, 1L, 1L, 2L),
      s"chunk ids off: $out")
    assert(out.forall(_._2 == 0L))
  }

  test("chunkDocuments: overlapping windows, short tail, tiny-doc singleton") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b")).toDF("id", "text")
    val out = TextAnalysis.chunkDocuments(df, "id", "text", 4, 3)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    val d1 = out.filter(_._1 == 1L)
    // starts 0,3,6,9 → windows of 4,4,4 and a 1-token tail
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(d1.head._3 == "w1 w2 w3 w4" && d1(1)._3 == "w4 w5 w6 w7")
    assert(d1.last._3 == "w10")
    // doc shorter than one chunk → exactly one chunk with all tokens
    val d2 = out.filter(_._1 == 2L)
    assert(d2.toSeq == Seq((2L, 0L, "a b", 2L)))
  }

  test("tfIdf: corpus-wide df, per-doc tf, ln(N/df) weighting") {
    val df = Seq(
      (1L, "alpha beta beta"),
      (2L, "alpha gamma"),
      (3L, "alpha delta")).toDF("id", "text")
    val out = TextAnalysis.tfIdf(df, "id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out((1L, "alpha")) == (1L, 3L, 0.0)) // in every doc: idf = ln(1) = 0
    assert(out((1L, "beta")) ==
      (2L, 1L, math.rint(2 * math.log(3.0) * 1e6) / 1e6))
    assert(out((2L, "gamma"))._2 == 1L)
    assert(out.size == 6)
  }

  test("trainBpe learns the classic merge order; bpeEncode round-trips") {
    // the Sennrich toy corpus shape: counts low×5 lower×2 newest×6
    // widest×3 ⇒ pair (e,s) and (s,t</w>) tie at 9, lexicographic tie
    // break picks "e s" first, then the merged pair "es t</w>" at 9
    val docs = Seq((1L, Seq.fill(5)("low").mkString(" ")),
      (2L, "lower lower"),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpe(docs, "text", numMerges = 10)
    assert(merges.take(2) == Seq("e s", "es t</w>"),
      s"unexpected merge order: ${merges.take(4)}")
    // encode an UNSEEN word with the trained merges: "lowest" shares
    // the est</w> suffix machinery with newest/widest
    val enc = Seq((1L, "lowest newest low")).toDF("doc_id", "text")
      .select(graft.plans.GraftFunctions.bpeEncode(spark, $"text", merges)
        .as("p"))
      .as[Seq[String]].head()
    // detokenization identity
    assert(enc.mkString("").replace("</w>", " ").trim == "lowest newest low")
    // pieces never split across words: word count preserved
    assert(enc.count(_.endsWith("</w>")) == 3)
    // training is deterministic across replays
    assert(TextAnalysis.trainBpe(docs, "text", numMerges = 10) == merges)
  }

  test("gopherRules: hand-checkable fixture values") {
    val df = Seq(
      // "a a a b": top 2-gram "a a" occurs 2× (3 chars) → 6/7; words too
      // short (mean 1.0) and too few → keep = 0
      (1L, "a a a b"),
      // clean doc: 60 distinct-ish words incl. both stopwords, mean len
      // in [3,10], no repeated n-gram mass above thresholds → keep = 1
      (2L, ("the a " + (1 to 58).map(i => s"word$i").mkString(" "))))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "doc_id", "text",
        requiredStopwords = Seq("the", "a"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_words") == 4)
    assert(d1.getAs[Double]("mean_word_len") == 1.0)
    assert(d1.getAs[Double]("top2_frac") ==
      math.rint(6.0 / 7.0 * 1e6) / 1e6)
    assert(d1.getAs[Long]("stop_hits") == 1) // "a" present, "the" absent
    assert(d1.getAs[Double]("dup5_frac") == 0.0)
    assert(d1.getAs[Long]("keep") == 0)
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_words") == 60)
    assert(d2.getAs[Long]("stop_hits") == 2)
    assert(d2.getAs[Long]("keep") == 1)
  }

  test("gopherRules: sorted-run coverage agrees with a naive groupBy twin") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select("doc_id", "top3_frac", "dup5_frac")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // naive twin: explode positional 3-/5-grams, GROUP BY (doc, gram)
    def naive(n: Int): Map[Long, (Long, Long)] = {
      val ws = docs.select($"doc_id", split(trim($"text"), "\\s+").as("ws"),
        greatest(length($"text"), lit(1)).as("nc"))
      ws.filter(size($"ws") >= n)
        .select($"doc_id", $"nc", explode(
          transform(sequence(lit(0), size($"ws") - n),
            i => concat_ws(" ", slice($"ws", i + 1, lit(n))))).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"), first("nc").as("nc"))
        .groupBy("doc_id")
        .agg(max($"c" * length($"g")).as("maxp"),
          sum(when($"c" >= 2, $"c" * length($"g")).otherwise(0L)).as("dups"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }
    val n3 = naive(3); val n5 = naive(5)
    val nChars = docs.select($"doc_id", greatest(length($"text"), lit(1)))
      .as[(Long, Int)].collect().toMap
    // 5.1e-7 tolerance: the operator HALF_UP-rounds to 6 dp, the twin
    // keeps the raw ratio — they may differ by exactly 5e-7 at a
    // half-way point (math.rint here would banker's-round and disagree)
    out.foreach { case (id, (top3, dup5)) =>
      val expTop3 = n3.get(id).map(_._1.toDouble / nChars(id)).getOrElse(0.0)
      val expDup5 = n5.get(id).map(_._2.toDouble / nChars(id)).getOrElse(0.0)
      assert(math.abs(top3 - expTop3) < 5.1e-7,
        s"doc $id top3 $top3 vs $expTop3")
      assert(math.abs(dup5 - expDup5) < 5.1e-7,
        s"doc $id dup5 $dup5 vs $expDup5")
    }
  }

  test("corpusCard: null-text docs stay in the card and count as mutual dups") {
    val df = Seq(
      (1L, Some("one real document with text"), "s0", "en"),
      (2L, Option.empty[String], "s0", "en"),
      (3L, Option.empty[String], "s0", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val card = TextAnalysis.corpusCard(df, "doc_id", "text",
        "source", "lang", Seq("the", "a"))
      .select("n_docs", "dup_docs").as[(Long, Long)].collect()
    // a plain equality join on the fingerprint would DROP the two
    // null-text rows (NULL keys never match) — the null-safe join
    // keeps them, grouped together as mutual dups like the window did
    assert(card.toSeq == Seq((3L, 2L)),
      s"null-text docs must stay counted, got ${card.toSeq}")
  }

  test("bigramLogProb: hand-checkable interpolated terms; short docs keep a 0/NULL row") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    // uni: a=3, b=3, c=1; T=7, V=3, denom=10; bc: (a,b)=3, (b,a)=1
    val lam = 0.7
    def pUni(uc: Long) = (uc + 1).toDouble / 10.0
    val tAb = math.log(1.0 * lam + pUni(3) * (1 - lam))         // bc/uc(a)=3/3
    val tBa = math.log((1.0 / 3.0) * lam + pUni(3) * (1 - lam)) // bc/uc(b)=1/3
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2.get - r6((tAb + tBa + tAb) / 3)) < 1e-9)
    assert(out(2L) == ((1L, Some(r6(tAb)))))
    assert(out(3L) == ((0L, None)), "a 1-token doc has no LM evidence")
  }

  test("bigramLogProbAgainst: target-trained model ranks target-like docs higher") {
    val target = Seq((100L, "the cat sat on the mat"),
      (101L, "the cat ran to the mat")).toDF("doc_id", "text")
    val corpus = Seq((1L, "the cat sat on the mat"),
      (2L, "zq xw vv kk pp qq")).toDF("doc_id", "text")
    val scored = TextAnalysis.bigramLogProbAgainst(target, corpus,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1L) > scored(2L),
      s"target-like doc must outscore junk: $scored")
    // the two-corpus path with identical content reproduces the
    // single-corpus path exactly (the branch is plumbing, not math)
    val one = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
    val two = TextAnalysis.bigramLogProbAgainst(
      corpus.select("doc_id", "text"), corpus, "doc_id", "text")
    assert(one.collect().toSet == two.collect().toSet)
  }

  test("ngramNovelty: exact overlap fractions; short docs carry NULL") {
    // corpus doc 1: 6 tokens -> 4 distinct 3-grams, 2 of which ("b c d",
    // "c d e") occur in the reference -> novelty 0.5; doc 2: all-novel;
    // doc 3: too short for a 3-gram
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "x y z w"),
      (3L, "a b")).toDF("doc_id", "text")
    val ref = Seq((100L, "q b c d e q")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(corpus, ref, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 2L, Some(0.5))), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((2L, 0L, Some(1.0))), s"doc 2 is all-novel: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, None)), "a 2-token doc has no 3-grams")
  }

  test("writeBigramLmStore fails loudly on an empty train corpus") {
    val dir = java.nio.file.Files.createTempDirectory("emptylm").toString
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.writeBigramLmStore(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", dir)
    }
    assert(err.getMessage.contains("empty"))
  }

  test("ccnetBuckets: exact-integer thirds, best scores first") {
    val scored = (1 to 7).map(i => (i.toLong, "en", -i.toDouble))
      .toDF("id", "lang", "s")
    val buckets = TextAnalysis.ccnetBuckets(scored, "lang", "s", "id")
      .select("id", "bucket").as[(Long, String)].collect().toMap
    // 7 docs: (rk-1)*3 < 6 → head {1,2}; < 12 → middle {3,4}; tail rest
    assert(Seq(1L, 2L).forall(buckets(_) == "head"))
    assert(Seq(3L, 4L).forall(buckets(_) == "middle"))
    assert(Seq(5L, 6L, 7L).forall(buckets(_) == "tail"))
    // null scores (no bigram evidence) are excluded, not bucketed
    val withNull = scored.unionByName(
      Seq((9L, "en", Option.empty[Double])).toDF("id", "lang", "s"))
    assert(TextAnalysis.ccnetBuckets(withNull, "lang", "s", "id")
      .filter($"id" === 9L).count() == 0)
  }

  test("c4LineClean: every line and page rule on a hand fixture") {
    val good = "alpha beta gamma delta epsilon."   // kept
    val docs = Seq(
      // 0: clean page — three good lines survive, junk lines drop
      (0L, Seq(good,
        "short line.",                              // < 5 words
        "no terminal punctuation on this line",     // no punct
        "we include JavaScript runtime here today.",// javascript (any case)
        "does it work? yes!",                       // <5 words (punct ok)
        good, good).mkString("\n")),
      // 1: lorem-ipsum page — lines clean, page dropped
      (1L, Seq(good, good, good, "and Lorem Ipsum dolor.").mkString("\n")),
      // 2: curly-brace page — dropped even though braces sit mid-line
      (2L, Seq(good, good, "func f() { return 1 } end here now.")
        .mkString("\n")),
      // 3: only two survivors — page dropped by the sentence floor
      (3L, Seq(good, good, "tiny.").mkString("\n")),
      // 4: nothing survives — clean_text must be '' not null
      (4L, "tiny."),
      // 5: blocklist page — a BadWord anywhere drops the page even
      // though every line is clean (case-insensitive substring)
      (5L, Seq(good, good, "this line mentions BadWord openly today.")
        .mkString("\n")))
      .toDF("id", "text")
    val out = TextAnalysis.c4LineClean(docs, "id", "text",
        blocklist = Seq("badword"))
      .as[(Long, Int, Int, String, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L) == ((0L, 7, 3, Seq(good, good, good).mkString("\n"), 1)))
    // the lorem line itself is also < 5 words → line-dropped; the PAGE
    // drop still fires off the raw text
    assert(out(1L) == ((1L, 4, 3, Seq(good, good, good).mkString("\n"), 0)))
    // braces are a PAGE rule: the brace line itself passes the line
    // rules (9 words, terminal '.') yet the page is rejected
    assert(out(2L)._5 == 0 && out(2L)._3 == 3)
    assert(out(3L) == ((3L, 3, 2, Seq(good, good).mkString("\n"), 0)))
    assert(out(4L) == ((4L, 1, 0, "", 0)))
    assert(out(5L)._5 == 0 && out(5L)._3 == 3)
    // doc-local projection: the whole rule set must plan with ZERO
    // exchange — at 100 TB this operator is a pure map over the scan
    val plan = TextAnalysis.c4LineClean(docs, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"c4LineClean must not shuffle:\n$plan")
  }

  test("htmlToText: head/script/style/comment drops, tag word-bounds, entity order, links") {
    import spark.implicits._
    val pages = Seq(
      // head block (incl. its script/style with < and { inside) is
      // dropped wholesale; title still extracted from the RAW page;
      // <br>/<i> are word boundaries, never fusers
      (1L, "<html><head><title> My Page </title><script>if (a<b) { x(); }" +
        "</script><style>p { color: blue }</style></head><body>" +
        "<!-- <p>no</p> -->Hello<br>world <i>c</i>d</body></html>"),
      // entity decode AFTER tag strip, &amp; LAST: &amp;lt; stays
      // literal '&lt;', &amp;amp; stays '&amp;', &lt;x&gt; becomes
      // literal '<x>'; both href quote styles count as links
      (2L, "<p>&amp;lt; &amp;amp; &lt;x&gt; &quot;q&#39; m&nbsp;n</p>" +
        "<a href=\"u\">L</a><a href='v'>M</a>"),
      // markup-free input passes through (modulo whitespace collapse)
      (3L, "plain text,  no markup"))
      .toDF("id", "h")
    val out = TextAnalysis.htmlToText(pages, "id", "h")
      .as[(Long, String, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "My Page", 0, "Hello world c d")))
    assert(out(2L) == ((2L, "", 2, "&lt; &amp; <x> \"q' m n L M")))
    assert(out(3L) == ((3L, "", 0, "plain text, no markup")))
    // pure map over the scan: zero exchange at any scale
    val plan = TextAnalysis.htmlToText(pages, "id", "h")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"htmlToText must not shuffle:\n$plan")
  }

  test("vocabGrowth: hand fixture — buckets, new-token attribution, prefix sums") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"), (2L, "a c"),   // bucket 1 — new: a b c
      (3L, "b c"), (4L, "d"),     // bucket 2 — new: d
      (5L, "a d"), (6L, "e e e"), // bucket 3 — new: e (repeats count once)
      (7L, "a"), (8L, "f g"),     // bucket 4 — new: f g
      (9L, "g"), (10L, "h"))      // bucket 5 — new: h
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, "doc_id", "text", numBuckets = 5)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 4L, 3L),
      (2L, 4L, 7L, 4L),
      (3L, 6L, 12L, 5L),
      (4L, 8L, 15L, 7L),
      (5L, 10L, 17L, 8L)))
  }

  test("vocabGrowth: more buckets than docs — only occupied checkpoints emit") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, "x y"), (3L, "z")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, "doc_id", "text", numBuckets = 10)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long)].collect()
    // ranks 1,2,3 of N=3 at K=10 land in buckets 1, 4, 7
    assert(out.toSeq == Seq((1L, 1L, 1L, 1L), (4L, 2L, 3L, 2L), (7L, 3L, 4L, 3L)))
  }

  test("registeredDomain: www/port strip, multi-part suffix, bare host, scheme-free") {
    val cases = Seq(
      ("https://www.example.com/a?b=1", "example.com"),
      ("http://news.bbc.co.uk/story", "bbc.co.uk"),        // multi-part suffix
      ("https://deep.sub.blog.org:8080/x", "blog.org"),    // port + subdomains
      ("HTTPS://WWW.Site.COM:443", "site.com"),            // case + default port
      ("example.org/path", "example.org"),                 // no scheme
      ("localhost", "localhost"),                          // single label
      ("https://www.co.uk", "co.uk"))                      // suffix IS the host (2 labels)
    val out = cases.map(_._1).toDF("url")
      .select(TextAnalysis.registeredDomain(col("url")).as("d"))
      .as[String].collect().toSeq
    assert(out == cases.map(_._2), s"got $out")
  }

  test("urlFilter: blocklist verdict, occurrence score, broadcast/shuffle parity") {
    val urls = Seq(
      (1L, "https://www.bad.com/x"),            // blocked (www-stripped)
      (2L, "https://good.com/casino/casino"),   // score 2
      (3L, "https://good.com/a?q=xxx"),         // score 1
      (4L, "https://sub.bad.com/y"),            // subdomain of blocked domain
      (5L, "https://fine.org/clean")).toDF("id", "url")
    val bl = Seq("bad.com").toDF("domain")
    val out = TextAnalysis.urlFilter(urls, "id", "url", bl,
        Seq("casino", "xxx"), maxScore = 1L)
      .select("id", "blocked", "url_score", "keep")
      .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, true, 0L, false),
      (2L, false, 2L, false),   // over maxScore
      (3L, false, 1L, true),    // at maxScore: kept
      (4L, true, 0L, false),    // registered domain catches subdomains
      (5L, false, 0L, false == false)), s"got $out")
    val shuffled = TextAnalysis.urlFilter(urls, "id", "url", bl,
        Seq("casino", "xxx"), maxScore = 1L, broadcastBlocklist = false)
      .select("id", "blocked", "url_score", "keep")
      .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(shuffled == out, "broadcast and shuffle blocklist paths must agree")
  }

  test("fimTransform: reassembly invariant, rate bounds, partitioning-independent") {
    val docs = (1L to 400L).map(i => (i, s"doc $i body with some words " * 3))
      .toDF("doc_id", "text")
    val out = TextAnalysis.fimTransform(docs, "doc_id", "text", rate = 0.5)
      .select("doc_id", "text", "fim_applied", "fim_text")
      .as[(Long, String, Boolean, String)].collect()
    // every transformed row reassembles to the original text
    val re = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$".r
    out.foreach { case (id, text, applied, fim) =>
      if (applied) fim match {
        case re(p, sf, m) => assert(p + m + sf == text, s"doc $id")
        case _ => fail(s"doc $id: applied but not PSM-shaped: $fim")
      } else assert(fim == text, s"doc $id passthrough")
    }
    // the md5 apply-decision tracks the rate (binomial 400, 0.5)
    val nApplied = out.count(_._3)
    assert(nApplied > 150 && nApplied < 250, s"applied $nApplied of 400")
    // rate 0 and 1 are exact
    assert(TextAnalysis.fimTransform(docs, "doc_id", "text", rate = 0.0)
      .filter(col("fim_applied")).count() == 0)
    assert(TextAnalysis.fimTransform(docs, "doc_id", "text", rate = 1.0)
      .filter(!col("fim_applied")).count() == 0)
    // hash noise, no RNG state: repartitioning changes nothing
    val again = TextAnalysis.fimTransform(docs.repartition(7), "doc_id",
        "text", rate = 0.5)
      .select("doc_id", "fim_text").as[(Long, String)].collect().toMap
    assert(out.forall { case (id, _, _, fim) => again(id) == fim })
  }

  test("scrubText: every scrub class, survivors survive") {
    val cases = Seq(
      ("a\u0001b\u0007c", "abc"),                       // C0 controls
      ("x\r\ny\rz", "x\ny\nz"),                         // CRLF + lone CR -> LF
      ("k\u00A0l", "k l"),                              // NBSP -> space
      ("\uFEFFm\u200Bn\u200D", "mn"),                   // BOM + zero-widths
      ("p\u0085q\u009Fr", "pqr"),                       // C1 range
      ("tab\tand\nnewline kept", "tab\tand\nnewline kept"))
    val out = cases.map(_._1).toDF("text")
      .select(TextAnalysis.scrubText(col("text")).as("c"))
      .as[String].collect().toSeq
    assert(out == cases.map(_._2), s"got ${out.map(_.getBytes.toSeq)}")
  }

  test("domainQualityPrior: site verdicts, decimal-exact boundary, small-domain exemption") {
    // bad.com: avg 0.4 < 0.5 -> dropped; good.com: avg exactly AT the
    // threshold (qsum == thr * n in DECIMAL) -> kept; tiny.org: one
    // low-quality doc but under minDocs -> exempt
    val df = Seq(
      (1L, "https://bad.com/a", 0.3), (2L, "https://bad.com/b", 0.5),
      (3L, "https://good.com/a", 0.4), (4L, "https://www.good.com/b", 0.6),
      (5L, "https://tiny.org/x", 0.1)).toDF("id", "url", "q")
    val out = TextAnalysis.domainQualityPrior(df, "id", "url", "q",
        minAvgQuality = 0.5, minDocs = 2L)
      .select("id", "domain", "domain_docs", "keep")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "bad.com", 2L, false), (2L, "bad.com", 2L, false),
      (3L, "good.com", 2L, true), (4L, "good.com", 2L, true),
      (5L, "tiny.org", 1L, true)), s"got $out")
  }

  test("vocabGrowth: corpus properties — monotone, ends at the true vocab") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextAnalysis.vocabGrowth(docs, "doc_id", "text")
      .orderBy("bucket").collect()
    assert(out.length == 10)
    val vocab = out.map(_.getLong(3))
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b })
    val trueVocab = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .where(length(col("t")) > 0).distinct().count()
    assert(vocab.last == trueVocab)
    val docsCum = out.map(_.getLong(1))
    assert(docsCum.last == docs.count())
  }

  test("bm25TopK: hand-computed score, df pruning, length norm direction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry cherry")).toDF("doc_id", "text")
    val q = Seq((10L, "apple cherry")).toDF("q_id", "q_text")
    // default maxDfRatio=0.5 on N=3 prunes df=2 terms (banana, cherry):
    // only 'apple' scores → only doc 1 is retrievable
    val out = TextAnalysis.bm25TopK(docs, q, k = 5).collect()
    assert(out.map(_.getAs[Long]("n_id")).toSeq == Seq(1L))
    val idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    val expected = idf * (2 * (1.2 + 1)) /
      (2 + 1.2 * ((1 - 0.75) + 0.75 * 3.0 / 3.0))
    assert(math.abs(out.head.getAs[Double]("bm25") - expected) < 5e-7)
    // unpruned: doc 3 (tf=3) outranks doc 2 (tf=1) for 'cherry'
    val full = TextAnalysis.bm25TopK(docs, q, k = 5, maxDfRatio = 1.0)
      .collect().sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("n_id"))
    assert(full.indexOf(3L) < full.indexOf(2L))
  }

  test("bm25 store: store path ≡ live path, probe scan partition-prunes to query buckets") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val q = docs.filter($"doc_id" % 83 === 0 && $"doc_id" < 500)
      .select($"doc_id".as("q_id"), substring($"text", 1, 60).as("q_text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(docs, dir, buckets = 16)
    val live = TextAnalysis.bm25TopK(docs, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val storeDf = TextAnalysis.bm25TopKFromIndex(dir, q, 5, maxDfRatio = 1.0)
    val store = storeDf.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))).toSet
    assert(store == live, "at-rest index must serve the live answers bit-for-bit")
    // the postings scan must carry a partition filter on the bucket —
    // a full-store scan would be the store-linear anti-pattern
    val pf = fileScans(storeDf).flatMap(_.partitionFilters)
    assert(pf.exists(_.toString.contains("bucket")),
      s"postings scan lacks a bucket partition filter: $pf")
    // grow path: landing the same corpus in two installments (with the
    // exact-long stats update) serves the SAME answers as the fresh
    // install — idf and avgdl reflect the union, not the base batch
    val dir2 = java.nio.file.Files.createTempDirectory("bm25idx2").toString
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 3 =!= 0), dir2,
      buckets = 16)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 3 === 0), dir2, 1L)
    val grown = TextAnalysis.bm25TopKFromIndex(dir2, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(grown == live, "append path must equal the fresh rebuild")
    // REPLAY SAFETY: an at-least-once re-append of the SAME batchId
    // (foreachBatch's retry contract) must converge by overwrite —
    // postings AND the per-batch stats entry — not double-count
    // nDocs/sumDl and skew idf/avgdl on every later probe
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 3 === 0), dir2, 1L)
    val replayed = TextAnalysis.bm25TopKFromIndex(dir2, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(replayed == live,
      "replaying an append (same batchId) must leave scores bit-identical")
  }

  test("bm25 store: two appenders with distinct batch ids never lose " +
       "an update; empty base install fails loudly at probe time") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val q = docs.filter($"doc_id" % 83 === 0 && $"doc_id" < 500)
      .select($"doc_id".as("q_id"), substring($"text", 1, 60).as("q_text"))
    val live = TextAnalysis.bm25TopK(docs, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // two ingest lines interleaved on one store: each batch owns its
    // own postings dir and its own _stats entry, so there is no
    // read-modify-write to race — under the OLD inline-meta layout
    // this interleaving lost the first appender's stats update
    // (A reads meta, B reads meta, A writes, B overwrites without A)
    val dir = java.nio.file.Files.createTempDirectory("bm25idx3").toString
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 3 === 2), dir,
      buckets = 16)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 3 === 0), dir, 1L)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 3 === 1), dir, 2L)
    val grown = TextAnalysis.bm25TopKFromIndex(dir, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(grown == live,
      "both appenders' stats entries must be counted (no lost update)")
    // nDocs = 0 guard: a probe on an empty base install must raise,
    // not emit NaN/Infinity scores
    val dir2 = java.nio.file.Files.createTempDirectory("bm25idx4").toString
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" < 0), dir2, buckets = 4)
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKFromIndex(dir2, q, 5, maxDfRatio = 1.0)
    }
    assert(ex.getMessage.contains("nDocs=0"))
  }

  test("bm25 store: df prune live on the store path ≡ live path " +
       "(t49's realistic-vocabulary fixture)") {
    import spark.implicits._
    // the t49 fixture shape: df=N stopwords (pruned at 0.5), a
    // mid-frequency subject, a rare term, dl spread via a filler tail
    val corpus = graft.core.Tables.documents(spark, sf).select($"doc_id",
      concat(lit("the of the w"), ($"doc_id" % 211).cast("string"),
        lit(" w"), ($"doc_id" % 211).cast("string"),
        lit(" x"), ($"doc_id" % 997).cast("string"),
        when($"doc_id" % 3 === 0, lit(" longtail filler pad"))
          .otherwise(lit(""))).as("text"))
    val q = graft.core.Tables.documents(spark, sf)
      .filter($"doc_id" % 83 === 0 && $"doc_id" < 500)
      .select($"doc_id".as("q_id"),
        concat(lit("the w"), ($"doc_id" % 211).cast("string"),
          lit(" x"), ($"doc_id" % 997).cast("string")).as("q_text"))
    val live = TextAnalysis.bm25TopK(corpus, q, 5, maxDfRatio = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(live.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("bm25idx5").toString
    TextAnalysis.writeBm25Index(corpus, dir, buckets = 16)
    val store = TextAnalysis.bm25TopKFromIndex(dir, q, 5, maxDfRatio = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(store == live,
      "store-path df prune must score identically to the live prune")
    // and the prune must be LIVE: disabling it changes scores (the
    // stopwords carry tiny but nonzero idf)
    val unpruned = TextAnalysis.bm25TopK(corpus, q, 5, maxDfRatio = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(unpruned != live, "fixture must make the prune observable")
  }

  test("spanCorrupt: sentinels round-trip — substituting targets back " +
       "reconstructs the original token stream") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),       // 12 tokens: 3 corruptible segments
      (2L, "one two three"),                  // 1-token segments: pass-through
      (3L, "")                                 // degenerate
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    val r1 = out(1L)
    assert(r1.getAs[Long]("n_spans") == 3L)
    // parse the target into sentinel -> span-token map, substitute back
    val tgt = r1.getAs[String]("target_text").split(" ").toSeq
    val spans = scala.collection.mutable.Map[String, Vector[String]]()
    var cur: String = null
    tgt.foreach { t =>
      if (t.startsWith("<extra_id_")) { cur = t; spans(cur) = Vector() }
      else spans(cur) = spans(cur) :+ t
    }
    val rebuilt = r1.getAs[String]("input_text").split(" ").toSeq
      .flatMap(t => spans.getOrElse(t, Vector(t)))
    assert(rebuilt == "a b c d e f g h i j k l".split(" ").toSeq,
      s"round-trip failed: $rebuilt")

    // short segments pass through untouched, terminator still emitted
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_spans") == 0L)
    assert(r2.getAs[String]("input_text") == "one two three")
    assert(r2.getAs[String]("target_text") == "<extra_id_3>")

    // determinism: noise is the id's md5, not partitioning
    val again = TextAnalysis.spanCorrupt(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("input_text")).toMap
    assert(again(1L) == r1.getAs[String]("input_text"))
  }
}
