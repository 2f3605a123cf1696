package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup keeps one row per normalized text, smallest id") {
    val df = Seq(
      (3L, "Hello  World"), (1L, "hello world"), (2L, "other text"),
      (5L, "HELLO WORLD ")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("fuzzyDecontaminate flags a paraphrased eval doc whole; clean docs pass") {
    // corpus doc 1 is a one-word paraphrase of eval doc 100: every
    // 3-gram around the swapped word moved, but shingle jaccard stays
    // >= 0.8 — the residual channel exact-gram matching underestimates
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val paraphrased = ((1 to 19).map(i => s"w$i") ++ Seq("SWAPPED") ++
      (21 to 40).map(i => s"w$i")).mkString(" ")
    val corpus = Seq((1L, paraphrased),
      (2L, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val eval = Seq((100L, base)).toDF("doc_id", "text")
    val out = Dedup.fuzzyDecontaminate(corpus, eval, "doc_id", "text",
        threshold = 0.8)
      .select("doc_id", "contaminated", "eval_jaccard")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2.exists(j => j >= 0.8 && j < 1.0),
      s"paraphrase must flag with jaccard in [0.8, 1): $out")
    assert(out(2L) == ((0, None)), s"clean doc must pass: $out")
  }

  test("exactDedupByShuffle (dup-majority fallback) agrees with exactDedup") {
    val df = Seq(
      (3L, "Hello  World"), (1L, "hello world"), (2L, "other text"),
      (5L, "HELLO WORLD "), (4L, "other  TEXT")).toDF("doc_id", "text")
    val a = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Dedup.exactDedupByShuffle(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == Seq(1L, 2L) && b == a)
  }

  test("exactDedup never shuffles the text payload (project-before-shuffle)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: QueryStageExec => shuffles(s.plan)
      case r: ReusedExchangeExec => shuffles(r.child)
      case e: ShuffleExchangeExec => e +: e.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    // inspect the INITIAL plan: with an empty drop set AQE eliminates the
    // anti join entirely (pass-through scan), which would vacuously pass
    val out = Dedup.exactDedup(Tables.documents(spark, sf), "doc_id", "text")
    val ex = shuffles(out.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected the (id, fingerprint) ranking exchange")
    ex.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"exchange must carry only id+fingerprint, got ${e.output.map(_.name)}")
    }
  }

  test("shingles: fewer tokens than n yields no shingles") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    assert(sh.filter($"id" === 1L).count() == 0)
    assert(sh.filter($"id" === 2L).as[(Long, String)].collect().map(_._2).sorted.toSeq
      == Seq("a b c", "b c d"))
  }

  test("exactDedupAuto: dup-majority fixture takes the shuffle plan, same answer") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // 400 rows, 20 distinct texts -> 380 drops: a dup-MAJORITY corpus
    val df = (1L to 400L).map(i => (i, s"text number ${i % 20}"))
      .toDF("doc_id", "text")
    val expected = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the selection rule itself
    assert(!Dedup.dropSetBroadcastable(380L, 100L))
    assert(Dedup.dropSetBroadcastable(380L, 1000L))
    // over the cap -> the ranked payload-shuffle plan: no join (so no
    // OOM-shaped broadcast of the drop set can exist in it)
    val viaShuffle = Dedup.exactDedupAuto(df, "doc_id", "text",
      maxBroadcastDrops = 100L)
    assert(viaShuffle.queryExecution.optimizedPlan.collect {
      case j: Join => j }.isEmpty,
      "dup-majority corpus must take the join-free ranked plan")
    assert(viaShuffle.select("doc_id").as[Long].collect().sorted.toSeq == expected)
    // under the cap -> the broadcast anti join plan, same answer
    val viaBroadcast = Dedup.exactDedupAuto(df, "doc_id", "text",
      maxBroadcastDrops = 1000L)
    assert(viaBroadcast.queryExecution.optimizedPlan.collect {
      case j: Join => j }.nonEmpty)
    assert(viaBroadcast.select("doc_id").as[Long].collect().sorted.toSeq == expected)
  }

  test("nearDupPairs routes by corpus size; both paths emit the same pairs") {
    val docs = Tables.documents(spark, sf)
    // the routing rule itself
    assert(Dedup.exactJaccardAffordable(25000L, 25000L))
    assert(!Dedup.exactJaccardAffordable(25001L, 25000L))
    // plan tell: the LSH route aggregates minhash columns, the exact
    // route never mentions them
    val exactRoute = Dedup.nearDupPairs(docs, "doc_id", "text",
      maxExactDocs = Long.MaxValue)
    val lshRoute = Dedup.nearDupPairs(docs, "doc_id", "text", maxExactDocs = 0L)
    assert(!exactRoute.queryExecution.analyzed.toString.contains("mh_0"))
    assert(lshRoute.queryExecution.analyzed.toString.contains("mh_0"))
    val a = exactRoute.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = lshRoute.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(a.nonEmpty, "corpus should contain planted near-dups")
    assert(a == b)
  }

  test("semanticDedup keeps exactly one doc per embedding near-dup cluster") {
    val (df, truth) = plantedEmbeddings()
    // ground-truth keepers from the brute-force pair set via union-find
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val all = df.select("vec_id").as[Long].collect().toSet
    val expected = all.filter(id => find(id) == id)
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(truth.nonEmpty && kept == expected)
    assert(kept.size < all.size, "planted dups must be pruned")
  }

  test("semanticDedupWithinCells keeps a superset of the exact keepers") {
    val (df, _) = plantedEmbeddings()
    val exact = Dedup.semanticDedup(df, "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    val withinCells = Dedup.semanticDedupWithinCells(
      df, "vec_id", "embedding", 0.9, nCells = 4)
      .select("vec_id").as[Long].collect().toSet
    // missing a cross-cell pair can only KEEP more docs, never drop a keeper
    assert(exact.subsetOf(withinCells))
    // near-identical vectors land in the same k-means cell: the paper's
    // trade should still prune most planted dups on a separable corpus
    val n = df.count()
    val prunedExact = n - exact.size
    val prunedCells = n - withinCells.size
    assert(prunedExact > 0 && prunedCells * 2 >= prunedExact,
      s"within-cell pruned $prunedCells of $prunedExact")
  }

  test("minHashLshDedup matches exact jaccardPairs ground truth") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshDedup(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("embeddingNearDupsTiled matches the brute-force oracle exactly") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val tiled = Dedup.embeddingNearDupsTiled(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "corpus should contain above-threshold pairs")
    assert(tiled == brute)
  }

  test("embeddingNearDupsTiled plans an equi-join, not a nested loop") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Dedup.embeddingNearDupsTiled(emb, "vec_id", "embedding", 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"tiled path must not nested-loop the corpus:\n$plan")
  }

  // planted SEPARABLE corpus: 200 seeded random 64-d base vectors plus 20
  // near-dups (base + small noise, cosine >= ~0.97) — the regime where
  // hyperplane banding is both exact and selective
  private def plantedEmbeddings(): (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(7L)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val dups = (0 until 20).map { i =>
      val src = base(i * 7)
      src.map(x => x + (rnd.nextGaussian() * 0.08).toFloat)
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      dups.zipWithIndex.map { case (v, i) => ((200 + i).toLong, v.toSeq) }
    val truth = (0 until 20).map(i => ((i * 7).toLong, (200 + i).toLong)).toSet
    (rows.toSeq.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding")), truth)
  }

  test("embeddingNearDupsLsh: full recall and bounded candidates on a separable corpus") {
    val (df, _) = plantedEmbeddings()
    val brute = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.embeddingNearDupsLsh(df, "vec_id", "embedding", 0.9, dim = 64)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(brute.size >= 20, s"expected the 20 planted pairs, got ${brute.size}")
    assert(lsh == brute, "LSH+verify must reproduce the brute-force answer")
    val nCands = Dedup.embeddingLshCandidates(df, "vec_id", "embedding",
      dim = 64, bits = 128, bands = 16).count()
    val allPairs = 220L * 219 / 2
    assert(nCands < allPairs / 4,
      s"candidates ($nCands) should be far below all pairs ($allPairs)")
  }

  test("maxDocFreq caps hot-shingle candidates without changing the answer") {
    // every doc shares one boilerplate shingle; two planted near-dup pairs
    val boiler = "terms of service apply"
    val rnd = new scala.util.Random(11L)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    val uniques = (0L until 40L).map(i => (i, s"$boiler ${words(12)}"))
    val dups = Seq(
      (100L, uniques(3)._2), (101L, uniques(8)._2 + " extra"))
    val df = (uniques ++ dups).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    val uncapped = Dedup.jaccardPairs(sh, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.jaccardPairs(sh, 0.8, maxDocFreq = Some(5))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(uncapped.map(p => (p._1, p._2)) == Set((3L, 100L), (8L, 101L)))
    assert(capped == uncapped, "cap must not change above-threshold answers")
    // the boilerplate shingle (df = 42) is excluded from candidate
    // generation: candidates collapse from all-pairs-sharing-boilerplate
    // (C(42,2) = 861) to just the pairs sharing rare shingles
    val nCands = Dedup.shingleCandidates(sh, 5).count()
    assert(nCands <= 10, s"df cap should bound candidates, got $nCands")
  }

  test("nearDupPairsHashed skips the hot-shingle guard at nDocs = cap, " +
       "and it still bites at cap + 1") {
    // every doc ends in the same shingle; doc 1 near-dups doc 0. A
    // threshold this low keeps the pairs that share ONLY that shingle
    // (1/13) — exactly the pairs the guard exists to drop
    val cap = 4
    def text(i: Int) = ((1 to 6).map(k => if (i == 1 && k == 1) "v" else
      s"u${if (i == 1) 0 else i}_$k") ++ Seq("common", "words", "here")).mkString(" ")
    def pairs(n: Int) = {
      val df = (0 until n).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
      def rows(p: org.apache.spark.sql.DataFrame) = p.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val h = Dedup.hashedShinglesFor(df, "doc_id", "text", 3)
      (rows(Dedup.nearDupPairsHashed(h, n.toLong, threshold = 0.01,
          maxDocFreq = Some(cap))),
        rows(Dedup.jaccardPairs(Dedup.shingles(df, "doc_id", "text", 3), 0.01,
          maxDocFreq = Some(cap))))
    }
    val (atCap, atCapOracle) = pairs(cap)
    assert(atCap == atCapOracle)
    assert(atCap.size == cap * (cap - 1) / 2,
      s"at nDocs = cap no shingle is hot: every pair is kept, got $atCap")
    val (above, aboveOracle) = pairs(cap + 1)
    assert(above == aboveOracle)
    assert(above.map(p => (p._1, p._2)) == Set((0L, 1L)),
      s"at nDocs = cap + 1 the shared shingle is hot and the guard drops " +
        s"the pairs that share only it, got $above")
  }

  test("connectedComponents labels chains, separate components, converges") {
    // a 6-node chain (diameter forces multiple propagation rounds), a
    // triangle, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(labels(_) == 1L))
    assert((10L to 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
    assert(labels.size == 11, "only nodes present in pairs are labeled")
  }

  test("connectedComponents converges on a deep chain (pointer jumping)") {
    // a 60-node path: pure min-propagation would need 59 rounds; with
    // pointer jumping the default maxIter is ample
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 60 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents on an empty pair set returns no labels") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, "id_a", "id_b").count() == 0)
  }

  test("incrementalExactDedup drops corpus-seen and within-batch dups") {
    val corpus = Seq((1L, "seen before"), (2L, "other doc")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Seen  BEFORE"),   // dup of corpus doc 1 after normalization
      (11L, "fresh content"),
      (12L, "fresh  CONTENT"), // within-batch dup of 11 — min id wins
      (13L, "more text")).toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(batch, corpus, "doc_id", "text")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
    // fingerprint-store fast path gives the same answer
    val store = corpus.select(
      graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
    val viaStore = Dedup.incrementalExactDedup(batch, store, "doc_id", "text",
        corpusFpCol = Some("fp"))
      .select("id").as[Long].collect().sorted
    assert(viaStore.toSeq == Seq(11L, 13L))
  }

  // one table over the lane count: k = 1 is the unsharded store, k = 2
  // the sharded one; both land the same flat fps table
  Seq(1, 2).foreach { k =>
    test(s"fp store at $k lane(s): Bloom-routed path equals live, grows, " +
         "keeps bloom ⊇ fps per lane") {
      val dir = java.nio.file.Files.createTempDirectory("fpstore").toString
      val docs = graft.core.Tables.documents(spark, sf)
      val corpus = docs.filter($"doc_id" % 5 =!= 0)
      val batch1 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 === 0)
      val batch2 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 =!= 0)
      Dedup.writeFpStore(corpus, "doc_id", "text", dir,
        expectedTotalFps = 100000L, shards = k)
      // layout: one base filter per lane, and a flat base generation —
      // the lane is computed from the fp, never stored
      assert((0 until k).forall(i => new java.io.File(s"$dir/_bloom.s$i.bin").exists()))
      assert(!new java.io.File(s"$dir/_bloom.s$k.bin").exists())
      assert(new java.io.File(s"$dir/fps/batch=0").listFiles()
        .forall(f => !f.isDirectory), "fps generations must be flat")
      // lane routing is layout-only: same answer as the live path
      val live1 = Dedup.incrementalExactDedup(batch1, corpus, "doc_id", "text")
        .select("fp", "id").as[(String, Long)].collect().toSet
      val store1raw = Dedup.incrementalExactDedupFromFpStore(
        batch1, dir, "doc_id", "text")
      assert(store1raw.columns.toSeq == Seq("id", "fp"),
        "store path must keep incrementalExactDedup's output contract")
      val store1 = store1raw.select("fp", "id").as[(String, Long)].collect().toSet
      assert(store1 == live1 && store1.nonEmpty)
      // ONE ROW per fp is the probe's output contract (fp → min-id agg
      // resolves within-batch dups): the streaming ingest loop appends
      // survivors' fps WITHOUT a distinct on the strength of it
      assert(store1raw.groupBy("fp").count().filter($"count" > 1).isEmpty,
        "probe output must be row-unique per fp")

      // grow, then batch 2 must dedup against corpus ∪ batch-1 survivors;
      // the append must route by the SAME lane hash
      Dedup.appendToFpStore(store1raw.select("fp"), dir, batchId = 1L)
      val corpus2 = corpus.unionByName(
        batch1.join(store1raw.select($"id".as("doc_id")), Seq("doc_id"), "left_semi"))
      val live2 = Dedup.incrementalExactDedup(batch2, corpus2, "doc_id", "text")
        .select("fp", "id").as[(String, Long)].collect().toSet
      val store2 = Dedup.incrementalExactDedupFromFpStore(
          batch2, dir, "doc_id", "text")
        .select("fp", "id").as[(String, Long)].collect().toSet
      assert(store2 == live2)

      // store invariant after the grow, lane-wise: every landed fp probes
      // POSITIVE in ITS OWN lane's MERGED filter (base + per-batch
      // filters) — a parquet fp the bloom misses would let a later
      // duplicate skip its verify and be silently re-admitted — and the
      // lanes really partition by the routing hash: a lane's filter
      // answers (almost) none of another lane's keys
      val landed = spark.read.parquet(s"$dir/fps")
        .select(xxhash64($"fp")).as[Long].collect()
      def laneOf(key: Long): Int = (((key % k) + k) % k).toInt
      (0 until k).foreach { i =>
        val bloom = BloomLanes.merged(spark, dir, i)
        val (own, others) = landed.partition(laneOf(_) == i)
        assert(own.nonEmpty, s"lane $i must hold fps")
        assert(own.forall(bloom.mightContainLong),
          s"bloom ⊇ fps must hold for lane $i after append")
        assert(others.count(bloom.mightContainLong) <= others.length / 20,
          s"lane $i's filter must hold only its residue class")
      }

      // the Bloom route must actually route: on a mostly-novel batch the
      // negative probes vastly outnumber the suspects
      val batchFp = batch2.select(
        graft.operators.TextAnalysis.fingerprint($"text").as("fp")).distinct()
      val nSuspect = batchFp
        .filter(BloomLanes.probe(spark, dir, k)(xxhash64($"fp")))
        .count()
      val nDup = batchFp.count() - store2.size
      assert(nSuspect < nDup + math.max(10, batchFp.count() / 20),
        s"suspect count $nSuspect should be ≈ true dups $nDup + fpp dribble")
    }
  }

  test("fp store: appends never touch shared files — two writer lineages " +
       "and replays converge (the RMW design lost updates)") {
    val dir = java.nio.file.Files.createTempDirectory("fprace").toString
    val docs = graft.core.Tables.documents(spark, sf)
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text",
      dir, expectedTotalFps = 100000L)
    def sidecar(name: String): Array[Byte] =
      graft.sources.Sources.readBinarySidecarFs(spark, s"$dir/$name")
    val baseBefore = sidecar("_bloom.s0.bin")
    def fpsOf(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
      .distinct().localCheckpoint()
    // two ingest lines on one store, interleaved: under the old
    // merge-into-base design this is the A-read/B-read/A-write/B-write
    // lost update (B's rewrite lacks A's keys); per-batch ownership
    // makes the interleave structurally raceless — each append only
    // CREATES its own files, proven by the base sidecar staying
    // byte-identical
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 0 && $"doc_id" % 2 === 0),
      dir, batchId = 1L)
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 0 && $"doc_id" % 2 =!= 0),
      dir, batchId = 2L)
    assert(java.util.Arrays.equals(baseBefore, sidecar("_bloom.s0.bin")),
      "append must not read-modify-write the shared base sidecar")
    // both lineages' keys probe positive in the merged filter
    val merged = BloomLanes.merged(spark, dir, 0)
    val allKeys = docs.filter($"doc_id" % 5 === 0)
      .select(xxhash64(graft.operators.TextAnalysis.fingerprint($"text")))
      .as[Long].collect()
    assert(allKeys.nonEmpty && allKeys.forall(merged.mightContainLong),
      "no lost update: both appenders' keys must be in the merged filter")
    // replay convergence: re-appending batch 1 overwrites its own
    // generation — the store holds the same distinct fps AND the same
    // ROW count (the old append re-landed duplicate rows forever)
    val rowsBefore = spark.read.parquet(s"$dir/fps").count()
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 0 && $"doc_id" % 2 === 0),
      dir, batchId = 1L)
    assert(spark.read.parquet(s"$dir/fps").count() == rowsBefore,
      "replayed append must overwrite its generation, not grow the store")
    // single-writer maintenance: the full fold collapses the fps
    // generations to one batch=0 AND the per-batch sidecars into the
    // base, preserving bloom ⊇ fps
    Dedup.compactFpStore(spark, dir)
    assert(!new java.io.File(s"$dir/_bloom.s0.b1.bin").exists() &&
      !new java.io.File(s"$dir/_bloom.s0.b2.bin").exists())
    val fpGens = new java.io.File(s"$dir/fps").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(fpGens == Set("batch=0"), s"fold must leave one generation: $fpGens")
    assert(spark.read.parquet(s"$dir/fps").count() == rowsBefore,
      "fold must lose no fp rows")
    val compacted = BloomLanes.merged(spark, dir, 0)
    assert(allKeys.forall(compacted.mightContainLong),
      "compaction must preserve bloom ⊇ fps")
    // and the folded store still answers probes: a batch of known dups
    // against it must all be caught
    val dupBatch = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 990000000L).as("doc_id"), $"text")
    assert(Dedup.incrementalExactDedupFromFpStore(
        dupBatch, dir, "doc_id", "text").count() == 0,
      "every doc in the dup batch must be caught by the folded store")
  }

  test("contaminationPairs counts shared distinct n-grams per (doc, eval doc)") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 3-grams with eval 100
      (2L, "unrelated words entirely here now")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, eval_, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    // shared 3-grams: "alpha beta gamma", "beta gamma delta" → 2
    assert(out == Set((1L, 100L, 2L)))
    // hot-shingle cap drops ubiquitous n-grams from the corpus side
    val boiler = Seq.tabulate(5)(i => (i.toLong, s"common boiler plate tail$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.contaminationPairs(boiler,
      Seq((200L, "common boiler plate")).toDF("doc_id", "text"),
      "doc_id", "text", 3, maxDocFreq = Some(3))
    assert(capped.count() == 0, "shingle in 5 corpus docs must be capped out")
  }

  test("incrementalNearDup pairs batch against corpus only; matches exact cross-set slice") {
    // fixture: within-set near-dups must NOT be emitted
    val t1 = "alpha beta gamma delta epsilon zeta eta"
    val corpus = Seq((1L, t1), (2L, t1), (3L, "one two three four five six"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, t1), (101L, t1), (102L, "red green blue cyan pink teal"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L)))

    // real corpus: identical to the cross-set slice of exact jaccardPairs
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
      .filter((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
      .select(
        when(col("id_a") % 5 === 0, col("id_a")).otherwise(col("id_b")).as("b"),
        when(col("id_a") % 5 === 0, col("id_b")).otherwise(col("id_a")).as("c"))
      .as[(Long, Long)].collect().toSet
    val inc = Dedup.incrementalNearDup(
        docs.filter($"doc_id" % 5 === 0), docs.filter($"doc_id" % 5 =!= 0),
        "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc == exact)
  }

  test("incrementalNearDupFromStore equals the live path on the same corpus") {
    val dir = java.nio.file.Files.createTempDirectory("ndstore").toString
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir)
    val fromStore = Dedup.incrementalNearDupFromStore(batch, dir, "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val live = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fromStore == live && fromStore.nonEmpty)
    // a batch far smaller than the store (the streaming shape): the
    // store's band keys and shingles stream through (its signature table
    // is not read); only the batch side and the candidate pairs are
    // small enough to be broadcast, so no broadcast holds store rows
    val small = Dedup.incrementalNearDupFromStore(
      docs.filter($"doc_id" % 50 === 0), dir, "doc_id", "text")
    small.collect()
    val plan = planNodes(small.queryExecution.executedPlan, intoCache = true)
    assert(storeScans(plan, dir).map(_.relation.location.rootPaths.head.getName)
      .sorted == Seq("bandkeys", "shingles"), "band keys and shingles, once each")
    assert(plan.collect { case b: BroadcastExchangeExec => b }
      .forall(b => storeScans(planNodes(b, intoCache = false), dir).isEmpty),
      "no broadcast may be built from a store table")
  }

  /** A physical plan's nodes, through adaptive stages and, with
    * `intoCache`, into the plans of persisted frames it reads. */
  private def planNodes(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan, intoCache)
      case q: QueryStageExec => planNodes(q.plan, intoCache)
      case m: InMemoryTableScanExec if intoCache =>
        planNodes(m.relation.cachedPlan, intoCache)
      case _ => p.children.flatMap(planNodes(_, intoCache))
    })

  private def storeScans(ps: Seq[SparkPlan], dir: String): Seq[FileSourceScanExec] =
    ps.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }

  test("the near-dup store probes force no broadcast: with broadcast " +
       "joins off they plan none and find the same rows") {
    // a probing side above the broadcast threshold must stream, not be
    // broadcast — the decontamination probe's batch is a whole corpus
    val dir = java.nio.file.Files.createTempDirectory("ndnobc").toString
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val probes = Seq(
      () => Dedup.incrementalNearDupFromStore(batch, dir, "doc_id", "text"),
      () => Dedup.fuzzyDecontaminateFromStore(batch, dir, "doc_id", "text"))
    val expected = probes.map(p => rows(p()))
    spark.catalog.clearCache()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      probes.zip(expected).foreach { case (p, want) =>
        val df = p()
        assert(rows(df) == want && want.nonEmpty)
        val bcasts = planNodes(df.queryExecution.executedPlan, intoCache = true)
          .collect { case b: BroadcastExchangeExec => b }
        assert(bcasts.isEmpty, s"forced broadcasts: ${bcasts.map(_.child.nodeName)}")
      }
    } finally {
      keys.foreach(spark.conf.unset)
      spark.catalog.clearCache()
    }
  }

  test("near-dup store compaction: folds committed generations into " +
       "batch=0, probe answers unchanged, replay bound honored, " +
       "crashed swap blocks and heals") {
    val dir = java.nio.file.Files.createTempDirectory("ndcompact").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 5 > 1)
    val b1 = docs.filter($"doc_id" % 5 === 1)
    val b2 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 =!= 0)
      .select(($"doc_id" + 900000000L).as("doc_id"), $"text")
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir)
    Dedup.appendToNearDupStore(b1, dir, "doc_id", "text", batchId = 1L)
    Dedup.appendToNearDupStore(b2, dir, "doc_id", "text", batchId = 2L)
    def pairs() = Dedup.incrementalNearDupFromStore(probe, dir,
        "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    def gens(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet
    val before = pairs()
    assert(before.nonEmpty && gens("shingles").size == 3)
    // bound honored: gen 2 could still be replayed by its trigger —
    // fold only ≤ 1; it must survive untouched
    Dedup.compactNearDupStore(spark, dir, maxBatchId = 1L)
    assert(gens("shingles") == Set("batch=0", "batch=2") &&
      gens("bandkeys") == Set("batch=0", "batch=2"))
    assert(pairs() == before, "partial fold must not change any answer")
    // full fold
    Dedup.compactNearDupStore(spark, dir)
    assert(gens("shingles") == Set("batch=0") &&
      gens("bandkeys") == Set("batch=0"))
    assert(pairs() == before, "full fold must not change any answer")
    // the store keeps growing normally after a fold (a DIFFERENT id
    // range — probe ids must stay disjoint from landed ids)
    val b3 = docs.filter($"doc_id" % 5 === 4)
      .select(($"doc_id" + 950000000L).as("doc_id"), $"text")
    Dedup.appendToNearDupStore(b3, dir, "doc_id", "text", batchId = 3L)
    assert(gens("shingles") == Set("batch=0", "batch=3"))
    // crashed swap: a leftover marker must BLOCK probes and appends
    // loudly (mid-swap reads could see a half-old/half-new table set),
    // and the next compact call must heal it
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_compact_swap.json",
      Map("tables" -> "shingles,bandkeys",
        "folded_shingles" -> "", "folded_bandkeys" -> ""))
    intercept[IllegalArgumentException](pairs())
    intercept[IllegalArgumentException](
      Dedup.appendToNearDupStore(b3, dir, "doc_id", "text", 4L))
    Dedup.compactNearDupStore(spark, dir) // finds the marker, finishes
    assert(!new java.io.File(s"$dir/_compact_swap.json").exists())
    assert(pairs().nonEmpty, "healed store must serve probes again")
  }

  test("near-dup store meta pins the MinHash seed; reader honors it") {
    // a seed mismatch between writer and reader silently yields
    // near-zero pairs — the meta sidecar must carry the seed so the
    // reader signs the batch with the STORE's hyperplanes, not its own
    val dir = java.nio.file.Files.createTempDirectory("ndstore7").toString
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir, seed = 7L)
    val meta = graft.sources.Sources.readJsonSidecarFs(spark, s"$dir/_meta.json")
    assert(meta("minhashSeed") == "7" && meta("formatVersion") == "5")
    // candidates band differently under seed 7, but exact-Jaccard
    // verification makes the OUTPUT seed-robust on this planted corpus
    val fromStore = Dedup.incrementalNearDupFromStore(batch, dir, "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val live = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fromStore == live && fromStore.nonEmpty)
  }

  test("appendToNearDupStore grows the store batch by batch") {
    // the full production ingest loop: land corpus → batch 1 pairs
    // against it and is appended → batch 2 pairs against corpus ∪ batch 1
    val dir = java.nio.file.Files.createTempDirectory("ndgrow").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 5 =!= 1)
    val batch1 = docs.filter($"doc_id" % 5 === 1)
    val batch2 = docs.filter($"doc_id" % 5 === 0)
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir)
    val pairs1 = Dedup.incrementalNearDupFromStore(batch1, dir, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val live1 = Dedup.incrementalNearDup(batch1, corpus, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs1 == live1)
    Dedup.appendToNearDupStore(batch1, dir, "doc_id", "text", batchId = 1L)
    val pairs2 = Dedup.incrementalNearDupFromStore(batch2, dir, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val live2 = Dedup.incrementalNearDup(batch2, corpus.unionByName(batch1),
        "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs2 == live2 && pairs2.nonEmpty,
      "batch 2 must see corpus AND batch 1 through the grown store")
    // growth must actually have landed batch-1 rows in BOTH tables —
    // ids, not counts: a half-appended store (the lineage-recompute
    // bug: one table landed, the other written from a plan re-run
    // against the half-appended state) leaves counts plausible while
    // the store is silently inconsistent
    val expectIds = (corpus.select("doc_id").as[Long].collect()
      ++ batch1.select("doc_id").as[Long].collect()).toSet
    val keyIds = spark.read.parquet(s"$dir/bandkeys")
      .select("id").distinct().as[Long].collect().toSet
    val shIds = spark.read.parquet(s"$dir/shingles")
      .select("id").distinct().as[Long].collect().toSet
    assert(keyIds == expectIds, "band-key ids must cover corpus + batch 1")
    assert(shIds == expectIds, "shingle ids must cover corpus + batch 1")
    // IDEMPOTENCE: replaying an already-applied batch under ITS OWN
    // batchId (foreachBatch is at-least-once with stable ids) must
    // overwrite, not duplicate — duplicate shingle rows would silently
    // corrupt every later jaccard against those docs
    val shinglesBefore = spark.read.parquet(s"$dir/shingles").count()
    Dedup.appendToNearDupStore(batch1, dir, "doc_id", "text", batchId = 1L)
    val shinglesAfter = spark.read.parquet(s"$dir/shingles").count()
    assert(shinglesAfter == shinglesBefore, "replayed batchId must overwrite, not grow")
    val pairs2Replay = Dedup.incrementalNearDupFromStore(batch2, dir, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs2Replay == live2, "pairs unchanged after replay")
  }

  test("near-dup store lands a generation's band keys as a few flat files") {
    // a (band, pfx) directory tree per generation buys a prefix prune
    // that never fires on a batch of this size (it hits every prefix of
    // every band) while costing every install, append and fold
    // bands · 2^pfxBits directories; a generation is a flat file set
    val dir = java.nio.file.Files.createTempDirectory("ndflat").toString
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 5 === 0)
    assert(batch.count() == 100L)
    Dedup.writeNearDupStore(docs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", dir)
    Dedup.appendToNearDupStore(batch, dir, "doc_id", "text", batchId = 1L)
    val entries = new java.io.File(s"$dir/bandkeys/batch=1").listFiles().toSeq
    assert(!entries.exists(_.isDirectory),
      s"flat generation expected, got dirs ${entries.filter(_.isDirectory).map(_.getName)}")
    val files = entries.filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.size <= spark.sparkContext.defaultParallelism,
      s"a 100-doc generation must be a few files, got ${files.size}")
    // one (band, bh, id) row per signed doc per band (16 bands); a doc
    // is signed iff it has shingles
    assert(spark.read.parquet(s"$dir/bandkeys/batch=1").count() ==
      16L * spark.read.parquet(s"$dir/shingles/batch=1")
        .select("id").distinct().count())
  }

  test("softDedupWeights: commonness counts, 1/n weights, every row flows") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO  world..."),
      (4L, "unique text"), (5L, "another one"), (6L, "Another ONE"))
      .toDF("doc_id", "text")
    val out = Dedup.softDedupWeights(docs, "doc_id", "text")
      .select("doc_id", "n_copies", "soft_weight")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L), "no row dropped")
    assert(out.map(_._2) == Seq(3L, 3L, 3L, 1L, 2L, 2L), s"counts: $out")
    assert(out.map(_._3) == Seq(0.333333, 0.333333, 0.333333, 1.0, 0.5, 0.5))
    // the SoftDeDup invariant: each canonical group's total weight ~ 1,
    // so a duplicated text competes like one unique doc in expectation
    val groupSums = out.groupBy(_._2).map { case (_, rows) =>
      rows.map(_._3).sum / (rows.size / rows.head._2.toInt) }
    assert(groupSums.forall(s => math.abs(s - 1.0) < 1e-4))
  }

  test("removeDupSpans: keep-first removal, overlap union, short docs") {
    // doc 0 carries the first occurrence of "a b c d e" (kept); doc 1
    // repeats it (dropped); doc 2 repeats it TWICE with positions
    // overlapping at token "z" between spans — covered positions union;
    // doc 3 shares nothing; doc 4 is shorter than n (kept verbatim)
    val docs = Seq(
      (0L, "a b c d e x y z"),
      (1L, "p q a b c d e r"),
      (2L, "a b c d e a b c d e"),
      (3L, "totally unrelated words here none shared"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 8L, 8L, "a b c d e x y z")), "first occurrence keeps")
    assert(out(1) == ((1L, 8L, 3L, "p q r")), "duplicate span drops")
    // doc 2: grams at 0 ("a b c d e") and 5 ("a b c d e") both duplicate
    // doc 0's first occurrence; grams 1–4 span the seam and are unique
    // IN THE CORPUS... they are "b c d e a" etc. — occur once → kept?
    // no: positions 0–4 and 5–9 are covered by the two duplicate
    // occurrences, which is EVERY position → fully dropped
    assert(out(2) == ((2L, 10L, 0L, "")), "fully covered doc empties")
    assert(out(3)._3 == 6L && out(3)._4 == "totally unrelated words here none shared")
    assert(out(4) == ((4L, 2L, 2L, "tiny doc")), "short docs keep everything")
  }

  test("span rewrites survive a pathological fully-covered 1e5-token doc") {
    // the buffer-concentration fixture from the interval-merge rewrite:
    // one doc of 10^5 tokens, every position covered. The old
    // covered-position pipeline built a collect_set of 10^5 ints in one
    // aggregation buffer (and exchanged ×n that many rows); the
    // interval sweep must reduce it to O(merged spans) — here ONE
    // interval — and still produce exact results.
    val big = (1 to 100000).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, big), (2L, big)).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .select("doc_id", "n_toks", "n_kept")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 100000L, 100000L)), "first copy keeps everything")
    assert(out(1) == ((2L, 100000L, 0L)), "second copy is fully covered")
    // self-repetition flavor: 10^5 copies of one token → 10^5 − n + 1
    // overlapping duplicate occurrences merging to a single interval
    // [1, 10^5) — only the first gram's own start survives
    val stutter = Seq((1L, Seq.fill(100000)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val self = Dedup.removeSelfRepetition(stutter, "doc_id", "text", n = 5)
      .select("n_toks", "n_kept", "clean_text")
      .as[(Long, Long, String)].head()
    assert(self == ((100000L, 1L, "x")),
      s"stutter doc must keep exactly its first token, got $self")
  }

  test("removeDupSpans agrees with dupSpanCoverage on untouched docs") {
    val docs = Tables.documents(spark, sf)
    val rewritten = Dedup.removeDupSpans(docs, "doc_id", "text")
    // a doc is byte-identical after the rewrite iff it had no duplicate
    // occurrence — cross-check count and text against the originals
    val untouched = rewritten.filter($"n_kept" === $"n_toks")
      .join(docs, "doc_id")
      .filter($"clean_text" =!= regexp_replace(trim($"text"), "\\s+", " "))
      .count()
    assert(untouched == 0, "full-keep docs must round-trip their text")
    assert(rewritten.count() == docs.count(), "one row per input doc")
  }

  test("dupSpanCoverage: positional counts, repeats, short docs") {
    // docs 0/1/2 share the 5-gram "a b c d e"; doc 2 carries it at TWO
    // positions (positional coverage must count both); doc 3 shares
    // nothing; doc 4 is shorter than n and must report (0, 0, 0.0)
    val docs = Seq(
      (0L, "a b c d e x y z"),
      (1L, "q a b c d e"),
      (2L, "a b c d e a b c d e"),
      (3L, "u v w x y z t"),
      (4L, "p q")).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", n = 5, minDocs = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((4L, 1L, 0.25)))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((6L, 2L, 0.333333)))
    assert(out(3L) == ((3L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("packed simHash is bit-identical to the signed ±1 bit-sum definition") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).limit(100)
    // the textbook formulation, computed independently: sum of ±1 per bit
    val tok = docs.select($"doc_id".as("id"),
        explode(split(trim($"text"), "\\s+")).as("w"))
      .select($"id", xxhash64($"w").as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"b_$i") }
    val reference = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select($"id", (0 until 64).map { i =>
        when(col(s"b_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
      }.reduce(_ + _).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val packed = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(packed == reference)
  }

  test("simHashPairs finds most planted near-dups, verified hamming") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardPairs(
      Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simHashPairs(Dedup.simHash(docs, "doc_id", "text"), 6)
    val simPairs = sim.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.filter($"hamming" > 6).count() == 0)
    val recall = (simPairs & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"simhash recall $recall too low")
  }

  test("removeSelfRepetition drops within-doc repeats, ignores cross-doc shares") {
    val docs = Seq(
      // internal repeat: second "a b c d e" (positions 6-10) drops
      (0L, "a b c d e x a b c d e"),
      // shares the gram with doc 0 but never repeats it internally —
      // must stay untouched (the defining contrast with removeDupSpans)
      (1L, "p q a b c d e r"),
      (2L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.removeSelfRepetition(docs, "doc_id", "text", n = 5)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 11L, 6L, "a b c d e x")))
    assert(out(1) == ((1L, 8L, 8L, "p q a b c d e r")))
    assert(out(2) == ((2L, 2L, 2L, "tiny doc")))
    // contrast pin: the CROSS-doc rewrite does touch doc 1
    val cross = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .filter($"doc_id" === 1L).select("n_kept").as[Long].head()
    assert(cross < 8L)
  }

  test("removeBoilerplate strips per-source chrome everywhere, spares other sources") {
    val docs = Seq(
      (1L, "siteA", "cookie banner click accept now article one text"),
      (2L, "siteA", "cookie banner click accept now another story here"),
      (3L, "siteA", "cookie banner click accept now third piece content"),
      // same phrase on siteB, but below minDocs THERE — content, kept
      (4L, "siteB", "cookie banner click accept now but only here"),
      (5L, "siteB", "unrelated b text entirely different words")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.removeBoilerplate(docs, "doc_id", "text", "source",
        n = 5, minDocs = 3)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // only the window at p0 repeats in ≥3 siteA docs; its 5 positions
    // drop from EVERY siteA doc — no keep-first copy survives
    assert(out(0) == ((1L, 8L, 3L, "article one text")))
    assert(out(1) == ((2L, 8L, 3L, "another story here")))
    assert(out(2) == ((3L, 8L, 3L, "third piece content")))
    assert(out(3) == ((4L, 8L, 8L, "cookie banner click accept now but only here")),
      "a phrase below the threshold WITHIN its source is content")
    assert(out(4)._3 == 6L, "untouched docs pass through whole")
    // contrast pin: the cross-corpus keep-first rewrite would spare
    // doc 1's copy — boilerplate removal must not
    val keepFirst = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .filter($"doc_id" === 1L).select("n_kept").as[Long].head()
    assert(keepFirst == 8L, "keep-first spares the first copy; boilerplate doesn't")
  }

  test("boilerplate store: batch parity on a fresh store, cross-batch accumulation") {
    val docs = Seq(
      (1L, "siteA", "cookie banner click accept now article one text"),
      (2L, "siteA", "cookie banner click accept now another story here"),
      (3L, "siteA", "cookie banner click accept now third piece content"),
      (4L, "siteB", "cookie banner click accept now but only here"),
      (5L, "siteB", "unrelated b text entirely different words")
    ).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("boilstore").toString
    // fresh store + one batch = the batch operator, bit for bit
    Dedup.writeBoilerplateStore(docs, "doc_id", "text", "source", dir, n = 5)
    val fromStore = Dedup.removeBoilerplateFromStore(docs, dir,
      "doc_id", "text", "source", minDocs = 3)
    val direct = Dedup.removeBoilerplate(docs, "doc_id", "text", "source",
      n = 5, minDocs = 3)
    assert(direct.except(fromStore).count() == 0 &&
      fromStore.except(direct).count() == 0,
      "fresh store + one batch must equal the batch operator")
    // accumulation: a LATER siteB doc with the phrase pushes siteB's
    // cumulative df to 3 — the new batch is stripped even though no
    // single batch carried the phrase 3 times there
    val batch2 = Seq(
      (6L, "siteB", "cookie banner click accept now late arrival text"),
      (7L, "siteB", "cookie banner click accept now yet more chrome")
    ).toDF("doc_id", "source", "text")
    Dedup.appendToBoilerplateStore(batch2, dir, "doc_id", "text", "source", 1L)
    val out2 = Dedup.removeBoilerplateFromStore(batch2, dir,
        "doc_id", "text", "source", minDocs = 3)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out2(0) == ((6L, 3L, "late arrival text")),
      s"cumulative siteB df (1+2) must elect the phrase, got ${out2(0)}")
    assert(out2(1) == ((7L, 3L, "yet more chrome")))
    // replay: re-appending the same batch id overwrites, never doubles
    val dfBefore = spark.read.parquet(s"$dir/counts")
      .groupBy().sum("_df").as[Long].head()
    Dedup.appendToBoilerplateStore(batch2, dir, "doc_id", "text", "source", 1L)
    val dfAfter = spark.read.parquet(s"$dir/counts")
      .groupBy().sum("_df").as[Long].head()
    assert(dfBefore == dfAfter, "batch-keyed overwrite must be idempotent")
  }

  test("removeDupSpansChars: char-granular keep-first catches off-boundary duplication") {
    val docs = Seq(
      (0L, "abcdefghijklmnopqrstuvwxyz"),
      // chars 2–23 duplicate doc 0's 0–21 — shifted TWO chars, so no
      // word boundary aligns (the whole doc is one whitespace token)
      (1L, "XXabcdefghijklmnopqrstuvXX"),
      (2L, "Z" * 45),
      (3L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.removeDupSpansChars(docs, "doc_id", "text", n = 20)
      .select("doc_id", "n_chars", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((0L, 26L, 26L, "abcdefghijklmnopqrstuvwxyz")),
      "global first occurrences survive whole")
    // doc 1's windows p∈{2,3,4} match doc 0's {0,1,2}; covered union =
    // chars 2..23 → exactly the XX…XX shell survives
    assert(out(1) == ((1L, 26L, 4L, "XXXX")),
      "duplication shifted off token boundaries must be caught")
    // within-doc: 26 identical windows, keep-first leaves one char
    assert(out(2) == ((2L, 45L, 1L, "Z")))
    assert(out(3) == ((3L, 4L, 4L, "tiny")), "short docs pass through")
    // contrast pin: the WORD-level twin sees doc 1 as one unseen token
    // and keeps it verbatim — the miss d18 exists to close
    val word = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .filter($"doc_id" === 1L).select("clean_text").as[String].head()
    assert(word == "XXabcdefghijklmnopqrstuvXX",
      "word-level rewrite is blind to sub-token duplication")
  }

  test("decontaminateRewrite removes eval-overlapping spans, keeps the rest") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "clean document with no leaked content at all"),
      (12L, "alpha beta gamma delta epsilon zeta"),
      (13L, "tiny doc")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "x quick brown fox jumps over y"),
      (101L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.decontaminateRewrite(corpus, eval, "doc_id", "text", n = 5)
      .select("doc_id", "n_toks", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(10L, 11L, 12L, 13L),
      "corpus rows only — eval rows are not emitted")
    // doc 10: only "quick brown fox jumps over" (positions 1–5) occurs
    // in the eval set; spans sharing tokens but not whole 5-grams stay
    assert(out(0) == ((10L, 9L, 4L, "the the lazy dog")))
    assert(out(1)._3 == 8L, "clean doc keeps every token")
    assert(out(2) == ((12L, 6L, 0L, "")), "wholly-eval doc empties")
    assert(out(3) == ((13L, 2L, 2L, "tiny doc")), "short docs keep everything")
  }

  test("decontaminateRewriteAuto: Bloom route is bit-identical to the broadcast rewrite") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "clean document with no leaked content at all"),
      (12L, "alpha beta gamma delta epsilon zeta"),
      (13L, "tiny doc"),
      (14L, "extra   spacing   here    stays clean too")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "x quick brown fox jumps over y"),
      (101L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val direct = Dedup.decontaminateRewrite(corpus, eval, "doc_id", "text", n = 5)
    // maxBroadcastGrams = 0 forces the flag-then-rewrite composition;
    // the passthrough branch must apply the SAME whitespace
    // normalization the rewrite applies to untouched docs (doc 14 pins
    // that — multi-space text diverges if one side skips retokenizing)
    val routed = Dedup.decontaminateRewriteAuto(corpus, eval, "doc_id", "text",
      n = 5, maxBroadcastGrams = 0L)
    assert(routed.count() == corpus.count())
    assert(direct.except(routed).count() == 0 && routed.except(direct).count() == 0,
      "routed output must be bit-identical to the one-stage rewrite")
    // the high default routes to the broadcast path — also identical
    val viaDefault = Dedup.decontaminateRewriteAuto(corpus, eval, "doc_id", "text", n = 5)
    assert(direct.except(viaDefault).count() == 0 && viaDefault.except(direct).count() == 0)
    // schema contract: like decontaminateRewrite, the auto entry point
    // accepts a TEXT-ONLY eval frame (suites rarely share the corpus id
    // column) — on both routes
    val evalTextOnly = eval.select("text")
    val textOnlyBloom = Dedup.decontaminateRewriteAuto(corpus, evalTextOnly,
      "doc_id", "text", n = 5, maxBroadcastGrams = 0L)
    assert(direct.except(textOnlyBloom).count() == 0 &&
      textOnlyBloom.except(direct).count() == 0,
      "text-only eval must work on the Bloom route")
    val textOnlyBcast = Dedup.decontaminateRewriteAuto(corpus, evalTextOnly,
      "doc_id", "text", n = 5)
    assert(direct.except(textOnlyBcast).count() == 0 &&
      textOnlyBcast.except(direct).count() == 0)
  }

  test("clusterKeepers elects the quality argmax, ties to smallest id") {
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.3))
      .toDF("doc_id", "q0")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.clusterKeepers(docs, "doc_id", $"q0", pairs)
      .select("doc_id", "cluster_id", "keeper_id", "n_members", "kept")
      .as[(Long, Long, Long, Long, Int)].collect().sortBy(_._1)
    // cluster {1,2,3}: q max 0.9 shared by 2 and 3 → tie-break keeps 2
    assert(out(0) == ((1L, 1L, 2L, 3L, 0)))
    assert(out(1) == ((2L, 1L, 2L, 3L, 1)))
    assert(out(2) == ((3L, 1L, 2L, 3L, 0)))
    assert(out(3) == ((7L, 7L, 7L, 1L, 1)), "singleton keeps itself")
  }

  test("eval-gram store: store path ≡ live rewrite; append folds a new suite in") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "clean document with no leaked content at all"),
      (12L, "alpha beta gamma delta epsilon zeta"),
      (13L, "tiny doc")).toDF("doc_id", "text")
    val suiteA = Seq((100L, "x quick brown fox jumps over y")).toDF("doc_id", "text")
    val suiteB = Seq((101L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("evalgram").toString
    Dedup.writeEvalGramStore(suiteA, "text", tmp, n = 5)
    // store-equals-live over the suite the store was built from
    val live = Dedup.decontaminateRewrite(corpus, suiteA, "doc_id", "text", n = 5)
    val store = Dedup.decontaminateRewriteFromStore(corpus, tmp, "doc_id", "text")
    assert(live.except(store).count() == 0 && store.except(live).count() == 0,
      "store path must be bit-identical to the live rewrite")
    // publish suite B: store now ≡ live over the UNION of suites
    Dedup.appendToEvalGramStore(suiteB, "text", tmp, batchId = 1L)
    val liveBoth = Dedup.decontaminateRewrite(
      corpus, suiteA.union(suiteB), "doc_id", "text", n = 5)
    val storeBoth = Dedup.decontaminateRewriteFromStore(corpus, tmp, "doc_id", "text")
    assert(liveBoth.except(storeBoth).count() == 0 &&
      storeBoth.except(liveBoth).count() == 0,
      "grown store must equal the live rewrite over both suites")
    // bloom ⊇ grams: every parquet gram key probes positive on the h1
    // lane of the MERGED filter (base + per-batch sidecars) — the
    // invariant that makes a false NEGATIVE (silent contamination)
    // impossible
    val bloom = BloomLanes.merged(spark, tmp, 0)
    val h1s = spark.read.parquet(s"$tmp/grams").select("h1").as[Long].collect()
    assert(h1s.nonEmpty && h1s.forall(bloom.mightContainLong),
      "bloom sidecar must cover every stored gram key")
    // replaying an append converges by overwrite: same generation dir,
    // same sidecar, same row count — output unchanged
    val rowsBefore = spark.read.parquet(s"$tmp/grams").count()
    Dedup.appendToEvalGramStore(suiteB, "text", tmp, batchId = 1L)
    assert(spark.read.parquet(s"$tmp/grams").count() == rowsBefore,
      "replayed append must overwrite its generation, not grow the store")
    val replayed = Dedup.decontaminateRewriteFromStore(corpus, tmp, "doc_id", "text")
    assert(liveBoth.except(replayed).count() == 0 &&
      replayed.except(liveBoth).count() == 0,
      "a replayed append must not change the rewrite")
  }

  test("multi-seed LSH pairs: analytic seed count, components ≡ exact on all SFs") {
    // the seed count is the analytic miss-bound solve, not a guess:
    // at j ≥ 0.8 with 16×4 banding one seed misses ≤ 2.2e-4, so two
    // independent seeds reach the 1e-7 family bound
    assert(Dedup.seedsForMissBound(0.8, 64, 16, 1e-7) == 2)
    assert(Dedup.seedsForMissBound(0.8, 64, 16, 1e-3) == 1)
    assert(Dedup.seedsForMissBound(0.9, 64, 16, 1e-7) == 1)
    // the split-hygiene contract on REAL data, all three SFs: the
    // connected components over multi-seed LSH pairs must equal the
    // components over the exact quadratic pair pass — same labels,
    // same membership — because a single missed pair would flip whole
    // groups' train/test sides
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val exact = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 3), 0.8,
        maxDocFreq = Some(100))
      val lsh = Dedup.lshPairsMultiSeed(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.8, missBound = 1e-7)
      val ce = Dedup.connectedComponents(exact, "id_a", "id_b")
      val cl = Dedup.connectedComponents(lsh, "id_a", "id_b")
      assert(ce.except(cl).count() == 0 && cl.except(ce).count() == 0,
        s"$dir: LSH components must equal exact components")
    }
  }

  test("canonicalExactDedup collapses reformatting variants exactDedup keeps") {
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO -- world..."),
      (4L, "a different doc")).toDF("doc_id", "text")
    val canonical = Dedup.canonicalExactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(canonical == Set(1L, 4L),
      "punctuation/case variants collapse to the smallest id")
    // byte-exact dedup (case/whitespace-normalized only) keeps all four
    val exact = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L, 4L))
  }

  test("canonicalUrl: every rule on hand fixtures; map-side plan") {
    import spark.implicits._
    val cases = Seq(
      // scheme/host/www/port/utm/fragment all at once; path case kept;
      // utm removal restores the '?'; non-terminal slash survives
      ("https://WWW.Example.COM:443/a/B/?utm_source=x&q=1#frag",
        "example.com/a/B/?q=1"),
      ("http://example.com/a/", "example.com/a"),
      ("https://example.com", "example.com"),
      // utm-only query vanishes entirely, then the now-terminal slash
      ("http://example.com/?utm_a=1", "example.com"),
      // utm in the middle of a kept query
      ("HTTP://A.com:80/P?x=1&utm_b=2&y=3", "a.com/P?x=1&y=3"),
      // no scheme at all: host rules still apply
      ("www.B.org:443/z", "b.org/z"))
      .toDF("url", "want")
    val got = cases.select(Dedup.canonicalUrl(col("url")).as("got"),
      col("want")).as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w, s"got $g want $w") }
    val plan = cases.select(Dedup.canonicalUrl(col("url")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"canonicalUrl must not shuffle:\n$plan")
  }

  test("latestPerUrl: newest fetch wins, id breaks ts ties, n_crawls counts the group") {
    import spark.implicits._
    val crawls = Seq(
      (1L, "http://s.com/p", 10L), (2L, "https://WWW.S.com/p/", 20L),
      (3L, "http://s.com/p#x", 20L), // ties ts=20 with id 2 → id 3 wins
      (4L, "http://other.com/q", 5L))
      .toDF("doc_id", "url", "ts")
    val out = Dedup.latestPerUrl(crawls, "url", "ts", "doc_id")
      .select("canon_url", "doc_id", "n_crawls")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("s.com/p", 3L, 3L), ("other.com/q", 4L, 1L)))
  }

  test("compaction commit window: a generation landing between stage and " +
       "swap survives — finish deletes only the marker's recorded ids") {
    // the benign interleaving the single-writer contract allows: an
    // append passes the marker guard while the fold is STAGING, and its
    // generation lands before the SWAP. finish must delete exactly the
    // generations the marker records — this spec fails if it ever
    // deletes (or folds) the non-recorded newcomer.
    val dir = java.nio.file.Files.createTempDirectory("ndinterleave").toString
    val tmp = java.nio.file.Files.createTempDirectory("ndstaged").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 5 > 1)
    val b1 = docs.filter($"doc_id" % 5 === 1)
    val b2 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 === 0)
    val probe = docs.filter($"doc_id" % 5 === 0 && $"doc_id" % 2 =!= 0)
      .select(($"doc_id" + 900000000L).as("doc_id"), $"text")
    Dedup.writeNearDupStore(corpus, "doc_id", "text", dir)
    Dedup.appendToNearDupStore(b1, dir, "doc_id", "text", batchId = 1L)
    // the interleaved append: guard-checked before any marker existed,
    // rows fully landed by swap time
    Dedup.appendToNearDupStore(b2, dir, "doc_id", "text", batchId = 2L)
    def pairs() = Dedup.incrementalNearDupFromStore(probe, dir,
        "doc_id", "text")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    def gens(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).toSet
    val before = pairs()
    assert(before.nonEmpty)
    // a REAL staged fold of generations 0+1: a fold is row-identical to
    // a rebuild over the folded batches' union (signatures are
    // deterministic under the store seed), so install the union into a
    // scratch store and move its tables into the staging slots
    Dedup.writeNearDupStore(corpus.unionByName(b1), "doc_id", "text", tmp)
    Seq("shingles", "bandkeys").foreach { t =>
      val src = new java.io.File(s"$tmp/$t/batch=0")
      val dst = new java.io.File(s"$dir/_compacting/$t/batch=0")
      dst.getParentFile.mkdirs()
      assert(src.renameTo(dst), s"staging move failed for $t")
    }
    // COMMIT: the marker records folds of generations 0 and 1 ONLY
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_compact_swap.json",
      Map("tables" -> "shingles,bandkeys",
        "folded_shingles" -> "0,1", "folded_bandkeys" -> "0,1"))
    Dedup.compactNearDupStore(spark, dir) // resumes: finish-only path
    Seq("shingles", "bandkeys").foreach { t =>
      assert(gens(t) == Set("batch=0", "batch=2"),
        s"$t must keep the fold AND the interleaved newcomer: ${gens(t)}")
    }
    assert(pairs() == before,
      "probe must see both the folded generations and the newcomer")
  }

  test("compaction refuses a TableSpec with no committed generations, loudly") {
    val dir = java.nio.file.Files.createTempDirectory("ndzerogen").toString
    Seq(1L).toDF("x").write.parquet(s"$dir/t1/batch=0")
    Seq(2L).toDF("x").write.parquet(s"$dir/t1/batch=1")
    new java.io.File(s"$dir/t2").mkdirs() // installed-but-empty table dir
    val ex = intercept[IllegalArgumentException] {
      StoreMaintenance.compact(spark, dir,
        Seq(StoreMaintenance.TableSpec("t1", identity),
          StoreMaintenance.TableSpec("t2", identity)),
        maxBatchId = Long.MaxValue)
    }
    assert(ex.getMessage.contains("t2") &&
      ex.getMessage.contains("no committed"),
      s"guard must name the offending table: ${ex.getMessage}")
    // the store is untouched — no staging, no marker, t1 intact
    assert(!new java.io.File(s"$dir/_compacting").exists())
    assert(!new java.io.File(s"$dir/_compact_swap.json").exists())
    assert(spark.read.parquet(s"$dir/t1").count() == 2)
  }

  test("eval-gram store compaction: folds generations + bloom sidecars + " +
       "stats, answers unchanged, crash marker blocks, accounting exact") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "clean document with no leaked content at all"),
      (12L, "alpha beta gamma delta epsilon zeta"),
      (13L, "tiny doc")).toDF("doc_id", "text")
    val suiteA = Seq((100L, "x quick brown fox jumps over y")).toDF("doc_id", "text")
    val suiteB = Seq((101L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("evalgramfold").toString
    Dedup.writeEvalGramStore(suiteA, "text", dir, n = 5)
    Dedup.appendToEvalGramStore(suiteB, "text", dir, batchId = 1L)
    def rewrite() = Dedup.decontaminateRewriteFromStore(
        corpus, dir, "doc_id", "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toSet
    val before = rewrite()
    val gramsBefore = spark.read.parquet(s"$dir/grams")
      .select("h1", "h2").as[(Long, Long)].collect().toSet
    val statBefore =
      spark.read.parquet(s"$dir/grams/batch=0").count() +
        spark.read.parquet(s"$dir/grams/batch=1").count()
    Dedup.compactEvalGramStore(spark, dir)
    // one generation, no per-batch bloom files, one stats entry
    val gens = new java.io.File(s"$dir/grams").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    assert(gens == Set("batch=0"), s"gens after fold: $gens")
    assert(!new java.io.File(s"$dir/_bloom.s0.b1.bin").exists(),
      "per-batch bloom sidecar must fold into the base filter")
    assert(!new java.io.File(s"$dir/_stats/batch_1.json").exists(),
      "per-batch stats entry must fold into batch 0")
    val stat0 = graft.sources.Sources.readJsonSidecarFs(spark,
      s"$dir/_stats/batch_0.json")
    assert(stat0("grams").toLong == statBefore,
      s"folded count ${stat0("grams")} must equal the generations' sum $statBefore")
    // no gram row lost or duplicated by the fold
    val gramsAfter = spark.read.parquet(s"$dir/grams")
      .select("h1", "h2").as[(Long, Long)].collect()
    assert(gramsAfter.toSet == gramsBefore &&
      gramsAfter.length == gramsBefore.size)
    // bloom ⊇ grams still holds through the folded base filter
    val bloom = BloomLanes.merged(spark, dir, 0)
    assert(gramsAfter.map(_._1).forall(bloom.mightContainLong))
    assert(rewrite() == before, "fold must not change any rewrite answer")
    // folded ids are RETIRED — enforced, not just documented: replaying
    // the folded id would read as crash residue in the accounting and
    // the next fold would double its rows
    val exRetired = intercept[IllegalArgumentException] {
      Dedup.appendToEvalGramStore(suiteB, "text", dir, batchId = 1L)
    }
    assert(exRetired.getMessage.contains("retired"))
    // the store keeps growing after a fold (fresh id — folded ids retire)
    Dedup.appendToEvalGramStore(
      Seq((102L, "zeta epsilon delta gamma beta alpha")).toDF("doc_id", "text"),
      "text", dir, batchId = 2L)
    assert(graft.sources.Sources.readJsonSidecarFs(spark,
      s"$dir/_stats/batch_2.json")("grams").toLong > 0)
    // crashed swap: marker blocks probe AND append loudly; compact heals
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_compact_swap.json",
      Map("tables" -> "grams", "folded_grams" -> ""))
    intercept[IllegalArgumentException](rewrite())
    intercept[IllegalArgumentException](
      Dedup.appendToEvalGramStore(suiteB, "text", dir, batchId = 3L))
    Dedup.compactEvalGramStore(spark, dir)
    assert(!new java.io.File(s"$dir/_compact_swap.json").exists())
    assert(rewrite().nonEmpty, "healed store must serve probes again")
  }

  test("writeFpStore reinstall clears stale generations and per-batch " +
       "blooms (rebuild-over-grown-store hygiene)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpreinstall").toString
    val docs = Tables.documents(spark, sf)
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 === 1), "doc_id", "text",
      dir, expectedTotalFps = 100000L)
    Dedup.appendToFpStore(
      docs.filter($"doc_id" % 5 === 2)
        .select(TextAnalysis.fingerprint($"text").as("fp")).distinct()
        .localCheckpoint(),
      dir, batchId = 1L)
    assert(new java.io.File(s"$dir/fps/batch=1").exists() &&
      new java.io.File(s"$dir/_bloom.s0.b1.bin").exists())
    // full rebuild over a DIFFERENT corpus slice: the old generation and
    // its bloom must not survive — a stale batch=1 would keep rejecting
    // docs the rebuilt store never saw
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 === 3), "doc_id", "text",
      dir, expectedTotalFps = 100000L)
    val gens = new java.io.File(s"$dir/fps").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(gens == Set("batch=0"), s"stale generations survived: $gens")
    assert(!new java.io.File(s"$dir/_bloom.s0.b1.bin").exists(),
      "stale per-batch bloom survived the reinstall")
    // probe semantics = a fresh store over the new slice: a %5==2 doc
    // (in the OLD store only) must now be admitted as new
    val probe = docs.filter($"doc_id" % 5 === 2)
    val out = Dedup.incrementalExactDedupFromFpStore(
      probe, dir, "doc_id", "text")
    assert(out.count() == Dedup.exactDedup(probe, "doc_id", "text").count(),
      "rebuilt store must not remember the pre-rebuild corpus")
  }

  test("compactFpStore RE-SIZES the base bloom from the folded keys — " +
       "a store grown past its install sizing de-saturates at fold time") {
    val dir = java.nio.file.Files.createTempDirectory("fpresize").toString
    val docs = Tables.documents(spark, sf)
    def fpsOf(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(TextAnalysis.fingerprint($"text").as("fp"))
      .distinct().localCheckpoint()
    // install sized for 8 fps, then grow WAY past it — the union fold
    // of r17 kept the 8-key bit array forever, so the merged filter
    // saturated and flagged most NOVEL keys as suspects
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 === 0), "doc_id", "text",
      dir, expectedTotalFps = 8L)
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 1), dir, batchId = 1L)
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 2), dir, batchId = 2L)
    def merged() = BloomLanes.merged(spark, dir, 0)
    def novelHitRate(f: org.apache.spark.util.sketch.BloomFilter): Double =
      (0 until 2000).count(i => f.mightContainLong(0x9E3779B97F4A7C15L * i))
        .toDouble / 2000
    val saturated = novelHitRate(merged())
    assert(saturated > 0.10,
      f"fixture must demonstrate saturation (novel-key hit rate $saturated%.3f)")
    Dedup.compactFpStore(spark, dir)
    // capacity now covers the folded population with headroom, and the
    // meta records it so later appends build bit-compatible filters
    val n0 = spark.read.parquet(s"$dir/fps").select("fp").distinct().count()
    val newCap = graft.sources.Sources
      .readJsonSidecarFs(spark, s"$dir/_meta.json")("expectedTotalFps").toLong
    assert(newCap >= n0 && newCap == n0 * 2,
      s"fold must re-size capacity to 2x the $n0 folded fps, got $newCap")
    val rebuilt = merged()
    assert(novelHitRate(rebuilt) < 0.01,
      "rebuilt filter must restore the designed fpp")
    // ...without ever dropping coverage: bloom ⊇ fps still holds and a
    // batch of known dups is fully caught
    val landed = spark.read.parquet(s"$dir/fps")
      .select(xxhash64($"fp")).as[Long].collect()
    assert(landed.nonEmpty && landed.forall(rebuilt.mightContainLong))
    val dupBatch = docs.filter($"doc_id" % 5 <= 2)
      .select(($"doc_id" + 990000000L).as("doc_id"), $"text")
    assert(Dedup.incrementalExactDedupFromFpStore(
      dupBatch, dir, "doc_id", "text").count() == 0)
    // per-batch sidecars folded away; a second maintenance visit is a
    // byte-level no-op (the idempotent fast path)
    assert(new java.io.File(dir).listFiles()
      .forall(f => !f.getName.matches("_bloom\\.s\\d+\\.b\\d+\\.bin")))
    val baseBytes = graft.sources.Sources
      .readBinarySidecarFs(spark, s"$dir/_bloom.s0.bin")
    Dedup.compactFpStore(spark, dir)
    assert(java.util.Arrays.equals(baseBytes, graft.sources.Sources
      .readBinarySidecarFs(spark, s"$dir/_bloom.s0.bin")),
      "idempotent visit must not rewrite the base sidecar")
    // and appends after the re-size stay bit-compatible with the new base
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 3), dir, batchId = 3L)
    assert(spark.read.parquet(s"$dir/fps").select(xxhash64($"fp"))
      .as[Long].collect().forall(merged().mightContainLong),
      "post-resize append must merge into the re-sized base")
  }

  test("fold-time re-size: old-capacity crash residue fails LOUDLY on " +
       "probe and the next fold heals it") {
    // the re-size writes meta first, filters second, batch-file deletes
    // last — so the one reachable bad state is a stale OLD-capacity
    // per-batch sidecar next to the re-sized base (a crash between
    // filter write and deletes, or a replayed append's file landing
    // after the fold). The contract under test: that state must fail
    // LOUDLY at probe time (mergeInPlace refuses mixed bit sizes —
    // never a silent wrong answer), and the next maintenance call must
    // heal it (the fast path cannot trap it, because the batch file is
    // still on disk).
    val dir = java.nio.file.Files.createTempDirectory("fpresidue").toString
    val docs = Tables.documents(spark, sf)
    def fpsOf(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(TextAnalysis.fingerprint($"text").as("fp"))
      .distinct().localCheckpoint()
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 === 0), "doc_id", "text",
      dir, expectedTotalFps = 8L)
    Dedup.appendToFpStore(fpsOf($"doc_id" % 5 === 1), dir, batchId = 1L)
    // capture an OLD-capacity per-batch sidecar before the fold
    val residue = graft.sources.Sources
      .readBinarySidecarFs(spark, s"$dir/_bloom.s0.b1.bin")
    Dedup.compactFpStore(spark, dir) // folds + re-sizes past capacity 8
    assert(graft.sources.Sources
      .readJsonSidecarFs(spark, s"$dir/_meta.json")("expectedTotalFps")
      .toLong > 8L, "fixture must actually re-size")
    // the crash artifact: an old-capacity batch file re-lands
    graft.sources.Sources.writeBinarySidecarFs(spark,
      s"$dir/_bloom.s0.b9.bin", residue)
    val probe = docs.filter($"doc_id" % 5 === 2)
    // the SPECIFIC loud failure: mergeInPlace refusing mixed bit sizes
    // — an incidental unrelated exception must not green this test
    intercept[org.apache.spark.util.sketch.IncompatibleMergeException] {
      Dedup.incrementalExactDedupFromFpStore(probe, dir, "doc_id", "text")
        .count()
    }
    // the next maintenance call heals (rebuild path deletes the
    // residue without reading it) and the probe answers exactly
    Dedup.compactFpStore(spark, dir)
    assert(!new java.io.File(s"$dir/_bloom.s0.b9.bin").exists(),
      "heal must drop the residue file")
    val out = Dedup.incrementalExactDedupFromFpStore(
      probe, dir, "doc_id", "text")
    assert(out.count() == Dedup.exactDedup(probe, "doc_id", "text").count(),
      "healed store must admit the novel batch exactly")
  }

  test("compactEvalGramStore re-sizes the sidecar AND retires folded ids " +
       "permanently across later folds") {
    val dir = java.nio.file.Files.createTempDirectory("evresize").toString
    def suite(tag: String, k: Int) = (0 until k).map(i =>
      (i.toLong, (0 until 12).map(j => s"${tag}_${i}_w$j").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.writeEvalGramStore(suite("a", 1), "text", dir, n = 5,
      expectedTotalGrams = 4L)
    Dedup.appendToEvalGramStore(suite("b", 4), "text", dir, batchId = 1L)
    Dedup.appendToEvalGramStore(suite("c", 4), "text", dir, batchId = 2L)
    Dedup.compactEvalGramStore(spark, dir)
    val n0 = spark.read.parquet(s"$dir/grams")
      .select("h1").distinct().count()
    val meta = graft.sources.Sources.readJsonSidecarFs(spark, s"$dir/_meta.json")
    assert(meta("expectedTotalGrams").toLong == n0 * 2,
      s"fold must re-size to 2x the $n0 folded grams, got " +
        meta("expectedTotalGrams"))
    // the de-saturated sidecar still covers every stored key
    val bloom = BloomLanes.merged(spark, dir, 0)
    val h1s = spark.read.parquet(s"$dir/grams").select("h1").as[Long].collect()
    assert(h1s.nonEmpty && h1s.forall(bloom.mightContainLong))
    // folded ids 1,2 are retired even after their residue entries are
    // gone — and a LATER fold (of batch 3) must not forget them: the
    // r17 keepFolded filtered on still-existing entry files, so the
    // second fold silently un-retired 1 and 2 and a replayed folded
    // batch could re-land
    Dedup.appendToEvalGramStore(suite("d", 2), "text", dir, batchId = 3L)
    Dedup.compactEvalGramStore(spark, dir)
    val folded = graft.sources.Sources
      .readJsonSidecarFs(spark, s"$dir/_stats/batch_0.json")("folded")
    assert(folded == "1,2,3",
      s"retired ids must persist across folds, got '$folded'")
    val ex = intercept[IllegalArgumentException] {
      Dedup.appendToEvalGramStore(suite("b", 4), "text", dir, batchId = 1L)
    }
    assert(ex.getMessage.contains("retired"))
  }

  test("appendToEvalGramStore backfills _stats entries for appended " +
       "generations that predate the per-batch accounting") {
    val dir = java.nio.file.Files.createTempDirectory("evheal").toString
    def suite(tag: String) = Seq(
      (0L, (0 until 12).map(j => s"${tag}_w$j").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.writeEvalGramStore(suite("a"), "text", dir, n = 5)
    Dedup.appendToEvalGramStore(suite("b"), "text", dir, batchId = 1L)
    val entry1 = new java.io.File(s"$dir/_stats/batch_1.json")
    val want = spark.read.parquet(s"$dir/grams/batch=1").count()
    // simulate an append that crashed between its gram write and its
    // entry write: generation landed, entry never written
    assert(entry1.delete())
    Dedup.appendToEvalGramStore(suite("c"), "text", dir, batchId = 2L)
    assert(entry1.exists(), "append must heal the missing batch_1 entry")
    assert(graft.sources.Sources
      .readJsonSidecarFs(spark, s"$dir/_stats/batch_1.json")("grams")
      .toLong == want,
      "healed entry must carry the generation's exact gram count")
  }

  test("installers refuse an input that lazily reads from the store " +
       "being cleared; a frozen (localCheckpoint) input passes") {
    val dir = java.nio.file.Files.createTempDirectory("fpselfread").toString
    val docs = Tables.documents(spark, sf)
    Dedup.writeFpStore(docs.filter($"doc_id" % 5 === 0), "doc_id", "text",
      dir, expectedTotalFps = 1000L)
    // the tempting rebuild-in-place: derive the reinstall corpus from
    // the store's own parquet — clearForReinstall would delete the
    // source before this lazy plan reads a byte
    val fromStore = spark.read.parquet(s"$dir/fps")
      .select($"fp".as("text")).withColumn("doc_id", lit(1L))
    val ex = intercept[IllegalArgumentException] {
      Dedup.writeFpStore(fromStore, "doc_id", "text", dir,
        expectedTotalFps = 1000L)
    }
    assert(ex.getMessage.contains("localCheckpoint"),
      s"guard must name the safe pattern: ${ex.getMessage}")
    // store intact after the refused install
    assert(spark.read.parquet(s"$dir/fps").count() > 0)
    // the documented safe pattern: freeze first, then reinstall in place
    val frozen = fromStore.localCheckpoint()
    Dedup.writeFpStore(frozen, "doc_id", "text", dir,
      expectedTotalFps = 1000L)
    assert(spark.read.parquet(s"$dir/fps").count() == frozen.count())
  }
}
