package graft.operators

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.Dataset

/** Every at-rest store opens through [[StoreMaintenance.open]]. One row
  * per store family names its installer and the probe and append entry
  * points that must refuse a store they cannot read — mid-swap (a
  * crashed compaction's marker) or in another layout — loudly, before
  * anything lands. Stores are a handful of rows each. */
class StoreOpenSpec extends SparkSpec {
  import spark.implicits._

  /** A store family: the installer a refusal must name, a tiny install
    * into a fresh dir, and its entry points, each called on a dir. */
  private case class Family(name: String, installer: String,
                            install: String => Unit,
                            entryPoints: Seq[(String, String => Any)])

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog by the river", "a"),
    (2L, "a slow green turtle walks under the tall bridge at night", "a"),
    (3L, "menu home about contact the quick brown fox jumps again", "b"),
    (4L, "menu home about contact stock prices rose sharply on monday", "b"),
    (5L, "the quick brown fox jumps over the lazy dog by the lake", "a"))
    .toDF("doc_id", "text", "src")

  private lazy val batch = Seq(
    (101L, "the quick brown fox jumps over the lazy dog by the sea", "a"),
    (102L, "an entirely novel sentence about distant mountain weather", "b"))
    .toDF("doc_id", "text", "src")

  private lazy val vecs = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(8)(t => ((i * 7 + t * 3) % 5).toFloat))
  }.toDF("vec_id", "embedding")

  private def gray(seed: Int): Array[Byte] =
    Ppm.encode(16, 8,
      Array.tabulate(3 * 16 * 8)(i => ((i / 3 * seed + 5) % 200).toByte))

  private lazy val images =
    Seq((1L, gray(53)), (2L, gray(91))).toDF("media_id", "bytes")

  private val families = Seq(
    Family("fp", "writeFpStore",
      dir => Dedup.writeFpStore(docs, "doc_id", "text", dir,
        expectedTotalFps = 100L),
      Seq(
        "probe" -> (dir => Dedup.incrementalExactDedupFromFpStore(
          batch, dir, "doc_id", "text")),
        "append" -> (dir => Dedup.appendToFpStore(
          batch.select(TextAnalysis.fingerprint($"text").as("fp")),
          dir, batchId = 1L)))),
    Family("eval-gram", "writeEvalGramStore",
      dir => Dedup.writeEvalGramStore(docs, "text", dir, n = 5),
      Seq(
        "probe" -> (dir => Dedup.decontaminateRewriteFromStore(
          batch, dir, "doc_id", "text")),
        "append" -> (dir => Dedup.appendToEvalGramStore(
          batch, "text", dir, batchId = 1L)))),
    Family("boilerplate", "writeBoilerplateStore",
      dir => Dedup.writeBoilerplateStore(docs, "doc_id", "text", "src", dir),
      Seq(
        "probe" -> (dir => Dedup.removeBoilerplateFromStore(
          batch, dir, "doc_id", "text", "src")),
        "append" -> (dir => Dedup.appendToBoilerplateStore(
          batch, dir, "doc_id", "text", "src", batchId = 1L)))),
    Family("near-dup", "writeNearDupStore",
      dir => Dedup.writeNearDupStore(docs, "doc_id", "text", dir),
      Seq(
        "probe" -> (dir => Dedup.incrementalNearDupFromStore(
          batch, dir, "doc_id", "text")),
        "append" -> (dir => Dedup.appendToNearDupStore(
          batch, dir, "doc_id", "text", batchId = 1L)))),
    Family("BM25", "writeBm25Index",
      dir => TextAnalysis.writeBm25Index(docs, dir, buckets = 8),
      Seq(
        "probe" -> (dir => TextAnalysis.bm25TopKFromIndex(dir,
          Seq((1L, "quick fox")).toDF("q_id", "q_text"), 3)),
        "append" -> (dir => TextAnalysis.appendToBm25Index(
          batch, dir, batchId = 1L)))),
    Family("bigram-LM", "writeBigramLmStore",
      dir => TextAnalysis.writeBigramLmStore(docs, "text", dir),
      Seq(
        "probe" -> (dir => TextAnalysis.bigramLogProbFromStore(
          batch, dir, "doc_id", "text")))),
    Family("PQ", "writePqIndex",
      dir => Similarity.writePqIndex(vecs.filter($"vec_id" < 20), dir,
        dim = 8, m = 2, k = 4),
      Seq(
        "probe" -> (dir => Similarity.pqTopKFromIndex(dir,
          vecs.filter($"vec_id" < 2), vecs, 3)),
        "append" -> (dir => Similarity.appendToPqIndex(
          vecs.filter($"vec_id" >= 20), dir, batchId = 1L)))),
    Family("image", "writeImageNearDupStore",
      dir => Multimodal.writeImageNearDupStore(images, dir),
      Seq(
        "probe" -> (dir => Multimodal.incrementalImageNearDup(images
          .select(($"media_id" + 100L).as("media_id"), $"bytes"), dir)),
        "append" -> (dir => Multimodal.appendToImageNearDupStore(images
          .select(($"media_id" + 100L).as("media_id"), $"bytes"), dir,
          batchId = 1L)))))

  private def family(name: String): Family = families.find(_.name == name).get

  private def freshStore(f: Family): String = {
    val dir = java.nio.file.Files.createTempDirectory("storeopen").toString
    f.install(dir)
    dir
  }

  /** Every file under `dir` with its size. */
  private def listing(dir: String): Set[(String, Long)] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toSet
    finally walk.close()
  }

  /** Each entry point throws `IllegalArgumentException` mentioning
    * `why`, and the store's files are exactly as before the calls. */
  private def refusesEveryEntryPoint(f: Family, dir: String,
                                     why: String): Unit = {
    val before = listing(dir)
    f.entryPoints.foreach { case (entry, call) =>
      val ex = intercept[IllegalArgumentException] {
        call(dir) match {
          case ds: Dataset[_] => ds.count()
          case _ =>
        }
      }
      assert(ex.getMessage.contains(why),
        s"${f.name} $entry must refuse with '$why': ${ex.getMessage}")
      assert(listing(dir) == before,
        s"${f.name} $entry landed files on a store it refused")
    }
  }

  private def rewriteMeta(dir: String)
                         (edit: Map[String, String] => Map[String, String]): Unit =
    Sources.writeJsonSidecarFs(spark, s"$dir/_meta.json",
      edit(Sources.readJsonSidecarFs(spark, s"$dir/_meta.json")))

  families.foreach { f =>
    test(s"${f.name} store: swap marker or formatVersion 0 refuses every call") {
      val dir = freshStore(f)
      val marker = s"$dir/_compact_swap.json"
      Sources.writeJsonSidecarFs(spark, marker, Map("tables" -> ""))
      refusesEveryEntryPoint(f, dir, "unfinished compaction swap")
      assert(new java.io.File(marker).delete())
      rewriteMeta(dir)(_ + ("formatVersion" -> "0"))
      refusesEveryEntryPoint(f, dir, f.installer)
    }
  }

  // the layout each family's current version replaced: a near-dup
  // store with a signature table, an image store with a (band, pfx)
  // partition tree, fp and eval-gram stores with unlaned `_bloom.bin`
  // filters (and shard-partitioned fps)
  Seq("near-dup" -> "4", "image" -> "2", "fp" -> "2", "eval-gram" -> "2").foreach { case (name, previous) =>
    test(s"$name store: the previous formatVersion $previous refuses every call") {
      val f = family(name)
      val dir = freshStore(f)
      rewriteMeta(dir)(_ + ("formatVersion" -> previous))
      refusesEveryEntryPoint(f, dir, f.installer)
    }
  }

  test("v1 inline-stats BM25 index: append and probe refuse, nothing lands") {
    // a v1 index keeps nDocs/sumDl inline in _meta.json: an append that
    // landed against it would add the batch's df while a v1-aware probe
    // kept the stale corpus totals — silently wrong scores
    val f = family("BM25")
    val dir = freshStore(f)
    rewriteMeta(dir) { _ =>
      val st = Sources.readJsonSidecarFs(spark, s"$dir/_stats/batch_0.json")
      Map("buckets" -> "8", "nDocs" -> st("nDocs"), "sumDl" -> st("sumDl"))
    }
    val postings = spark.read.parquet(s"$dir/postings").count()
    refusesEveryEntryPoint(f, dir, "writeBm25Index")
    assert(spark.read.parquet(s"$dir/postings").count() == postings,
      "nothing may land on the refused append")
  }

  test("v1 flat eval-gram store: append and probe refuse, nothing lands") {
    // a v1 store keeps grams FLAT under $dir/grams; landing a batch=<id>
    // dir next to flat files bricks every later read on conflicting
    // directory structures
    val f = family("eval-gram")
    val dir = freshStore(f)
    val gen = new java.io.File(s"$dir/grams/batch=0")
    gen.listFiles().foreach(g =>
      assert(g.renameTo(new java.io.File(s"$dir/grams/${g.getName}"))))
    assert(gen.delete())
    rewriteMeta(dir)(_ - "formatVersion")
    refusesEveryEntryPoint(f, dir, "writeEvalGramStore")
    assert(spark.read.parquet(s"$dir/grams").count() > 0,
      "nothing landed: the flat layout still reads")
  }
}
