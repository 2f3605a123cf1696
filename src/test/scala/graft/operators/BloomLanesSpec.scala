package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The Bloom lanes of the fp and eval-gram stores: one table over the
  * store kinds (fp at 1 and 2 lanes, eval-gram) and the installs whose
  * filters other builders got wrong — an install with no keys at all,
  * and a lane with no keys sized past Spark's runtime Bloom cap
  * (`spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, 67,108,864
  * bits), followed by an append and a probe. Every filter of a lane
  * must come out with the size the store's meta asks for, so the probe
  * merges them and answers exactly. */
class BloomLanesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog by the river bank"),
    (2L, "a slow green turtle walks under the tall bridge at night time"),
    (3L, "stock prices rose sharply on monday after the quarterly report"))
    .toDF("doc_id", "text")

  /** A batch with a copy of every doc and one novel doc. */
  private lazy val batch = docs.select(($"doc_id" + 100L).as("doc_id"), $"text")
    .unionByName(Seq((200L, "an entirely novel sentence about distant " +
      "mountain weather and rivers")).toDF("doc_id", "text"))

  /** A store kind: its lane count, install (corpus, capacity), append of
    * `docs`, and probe of `batch` with the answer it must give. */
  private case class Store(name: String, lanes: Int,
                           install: (String, DataFrame, Long) => Unit,
                           append: String => Unit,
                           probe: String => Set[String],
                           expected: () => Set[String])

  private def fpStore(k: Int) = Store(s"fp k=$k", k,
    (dir, corpus, cap) => Dedup.writeFpStore(corpus, "doc_id", "text", dir,
      expectedTotalFps = cap, shards = k),
    dir => Dedup.appendToFpStore(
      docs.select(TextAnalysis.fingerprint($"text").as("fp")).localCheckpoint(),
      dir, batchId = 1L),
    dir => Dedup.incrementalExactDedupFromFpStore(batch, dir, "doc_id", "text")
      .select("id").as[Long].collect().map(_.toString).toSet,
    () => Set("200"))

  private val stores = Seq(fpStore(1), fpStore(2),
    Store("eval-gram", 1,
      (dir, suite, cap) => Dedup.writeEvalGramStore(suite, "text", dir, n = 5,
        expectedTotalGrams = cap),
      dir => Dedup.appendToEvalGramStore(docs, "text", dir, batchId = 1L),
      dir => Dedup.decontaminateRewriteFromStore(batch, dir, "doc_id", "text")
        .select("clean_text").as[String].collect().toSet,
      () => Dedup.decontaminateRewrite(batch, docs, "doc_id", "text", n = 5)
        .select("clean_text").as[String].collect().toSet))

  /** The installs: (label, corpus from `docs`, capacity). 10M keys puts
    * a lane past the runtime cap at every lane count here; one doc at 2
    * lanes leaves one lane with no keys. */
  private val installs = Seq[(String, DataFrame => DataFrame, Long)](
    ("an empty install", _.filter($"doc_id" < 0), 1000L),
    ("an empty lane past the runtime cap", _.filter($"doc_id" < 0), 10000000L),
    ("one doc with a lane past the runtime cap", _.filter($"doc_id" === 1L),
      10000000L))

  for (s <- stores; (label, corpus, cap) <- installs) {
    test(s"${s.name}: $label, then append and probe") {
      val dir = java.nio.file.Files.createTempDirectory("lanes").toString
      s.install(dir, corpus(docs), cap)
      s.append(dir)
      assert(s.probe(dir) == s.expected(), s"${s.name} probe after append")
      val want = BloomFilter.create(BloomLanes.perLane(cap, s.lanes), 0.001).bitSize()
      (0 until s.lanes).foreach { lane =>
        assert(BloomLanes.merged(spark, dir, lane).bitSize() == want,
          s"lane $lane's filter size must follow the meta alone")
      }
    }
  }

  test("a lane's filter equals stat.bloomFilter's at in-repo capacities") {
    // below the runtime cap both builders make the same filter, so the
    // lanes leave every suspect set, and so every answer, unchanged
    val dir = java.nio.file.Files.createTempDirectory("lanebytes").toString
    val corpus = graft.core.Tables.documents(spark, sf)
    Dedup.writeFpStore(corpus, "doc_id", "text", dir, expectedTotalFps = 1000000L)
    val viaStat = corpus.select(xxhash64(TextAnalysis.fingerprint($"text")).as("k"))
      .distinct().stat.bloomFilter("k", 1000000L, 0.001)
    assert(BloomLanes.merged(spark, dir, 0) == viaStat)
  }

  test("store ops run a bounded number of Spark jobs at 1 and 2 lanes") {
    // one builder job per lane and no per-lane emptiness job: the
    // 2-lane fp store's install, append and fold ran 9, 8 and 13 jobs
    // when each lane was checked for emptiness and then built by
    // stat.bloomFilter, and the eval-gram store's 8, 8 and 13
    val corpus = graft.core.Tables.documents(spark, sf)
    val appended = corpus.filter($"doc_id" % 5 === 0)
      .select(TextAnalysis.fingerprint($"text").as("fp")).distinct()
      .localCheckpoint()
    def fp(k: Int)(dir: String) = Seq(
      () => Dedup.writeFpStore(corpus.filter($"doc_id" % 5 =!= 0),
        "doc_id", "text", dir, expectedTotalFps = 100000L, shards = k),
      () => Dedup.appendToFpStore(appended, dir, 1L),
      () => Dedup.incrementalExactDedupFromFpStore(
        corpus.filter($"doc_id" % 7 === 0), dir, "doc_id", "text").count(),
      () => Dedup.compactFpStore(spark, dir))
    val suite = corpus.filter($"doc_id" % 97 === 0)
    def evalGram(dir: String) = Seq(
      () => Dedup.writeEvalGramStore(suite.filter($"doc_id" % 2 === 0),
        "text", dir, n = 5),
      () => Dedup.appendToEvalGramStore(suite.filter($"doc_id" % 2 =!= 0),
        "text", dir, batchId = 1L),
      () => Dedup.decontaminateRewriteFromStore(
        corpus.filter($"doc_id" % 97 =!= 0), dir, "doc_id", "text").count(),
      () => Dedup.compactEvalGramStore(spark, dir))
    // (store, ops, jobs budget of install, append, probe, fold)
    Seq[(String, String => Seq[() => Any], Seq[Int])](
      ("fp k=1", fp(1), Seq(4, 2, 6, 7)),
      ("fp k=2", fp(2), Seq(5, 3, 6, 8)),
      ("eval-gram", evalGram, Seq(6, 6, 3, 12))).foreach {
      case (name, ops, budget) =>
        val dir = java.nio.file.Files.createTempDirectory("lanejobs").toString
        val got = ops(dir).map(op => jobsIn(op()))
        assert(got.zip(budget).forall { case (g, b) => g <= b },
          s"$name jobs (install, append, probe, fold): $got, budget $budget")
    }
  }
}
