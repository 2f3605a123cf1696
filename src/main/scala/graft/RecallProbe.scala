package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.operators.Similarity

/** Recall-vs-cost evidence for the ANN family — the ScaleProbe
  * convention applied to ACCURACY: every knob the operators default
  * (nProbe, re-rank depth, PQ m×k) is swept against exact brute-force
  * ground truth on the real embeddings tables, so the defaults are
  * measured choices with a recorded curve, not guesses. A knob whose
  * recall cliff sits next to its default is a named risk; a knob whose
  * extra cost buys no recall is waste.
  *
  * Protocol: queries = vec_id < 10 (10 queries), k = 5 → 50
  * ground-truth (query, neighbor) pairs per SF; recall = |ANN ∩ exact|
  * / 50, cost = wall seconds of the full operator call (train + probe
  * — what a user pays). One JSON line per SF dir:
  *   {"sf":...,"n_vecs":N,"sweeps":{"ivf_nprobe=4":[recall,sec],...}}
  *
  * Usage: RecallProbe [sfDirs...] (default all three testdata SFs);
  * SPARK_GRAFT_CPUS as everywhere.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.build("graft-recall-probe", cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val K = 5
    dirs.foreach { dir =>
      val e = Tables.embeddings(spark, dir)
        .persist()
      val n = e.count()
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, K)
        .select("q_id", "n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      def sweep(f: => DataFrame): (Double, Double) = {
        val t0 = System.nanoTime()
        val got = f.select("q_id", "n_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        ((got & exact).size.toDouble / exact.size, sec)
      }

      val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
      // IVF: the probe knob (nCells fixed at the 16 default)
      for (np <- Seq(2, 4, 8, 16))
        results(s"ivf_nprobe=$np") =
          sweep(Similarity.ivfTopK(e, q, K, nCells = 16, nProbe = np))
      // PQ + exact re-rank: depth knob at the default 8×16 codebooks
      val cb816 = Similarity.trainPq(e, dim = 64, m = 8, k = 16)
      val enc816 = Similarity.pqEncode(e, cb816).persist()
      enc816.count()
      results("pq_m8k16_adc") = sweep(Similarity.pqTopK(enc816, cb816, q, K))
      for (d <- Seq(25, 50, 100))
        results(s"pq_m8k16_rerank_d=$d") =
          sweep(Similarity.pqTopKReranked(enc816, cb816, q, e, K, depth = d))
      // PQ geometry: finer codebooks at the default re-rank depth 50
      for ((m, kc) <- Seq((16, 16), (8, 32))) {
        val cb = Similarity.trainPq(e, dim = 64, m = m, k = kc)
        val enc = Similarity.pqEncode(e, cb).persist()
        enc.count()
        results(s"pq_m${m}k${kc}_rerank_d=50") =
          sweep(Similarity.pqTopKReranked(enc, cb, q, e, K, depth = 50))
        enc.unpersist()
      }
      // IVF-PQ: the probe knob again under residual quantization
      for (np <- Seq(2, 4, 8))
        results(s"ivfpq_nprobe=$np") =
          sweep(Similarity.ivfPqTopK(e, q, K, nCells = 8, nProbe = np))
      enc816.unpersist(); e.unpersist()

      val sweeps = results.map { case (name, (r, s)) =>
        "\"" + name + f"""\":[$r%.2f,$s%.2f]"""
      }.mkString("{", ",", "}")
      println(s"""{"sf":"$dir","n_vecs":$n,"k":$K,"n_queries":10,"sweeps":$sweeps}""")
    }
    spark.stop()
  }
}
