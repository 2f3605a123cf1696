package graft.functions

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class PqAssignSpec extends SparkSpec {
  import spark.implicits._

  private def codebooksOf(cb: Similarity.PqCodebooks): Seq[Seq[Seq[Float]]] =
    cb.centroids.map(_.map(_.toSeq).toSeq).toSeq

  /** The argmin model the kernel must agree with: per subspace the
    * squared-euclidean-nearest centroid, FIRST index on ties. */
  private def model(v: Array[Float], cb: Similarity.PqCodebooks)
      : (Seq[Int], Double) = {
    val codes = (0 until cb.m).map { j =>
      val dists = cb.centroids(j).map { c =>
        (0 until cb.subDim).map { t =>
          val d = v(j * cb.subDim + t).toDouble - c(t); d * d
        }.sum
      }
      dists.indexOf(dists.min)
    }
    (codes, codes.zipWithIndex.map { case (c, j) => cb.norm2(j)(c) }.sum)
  }

  test("kernel agrees with the per-subspace argmin model on real embeddings") {
    val e = Tables.embeddings(spark, sf)
    val cb = Similarity.trainPq(e, dim = 64, m = 8, k = 16)
    val got = e.select($"vec_id",
        GraftFunctions.pqAssign(spark, $"embedding", codebooksOf(cb)).as("enc"))
      .select($"vec_id", $"enc.code", $"enc.recon_norm")
      .as[(Long, Seq[Int], Double)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    vecs.foreach { case (id, v) =>
      val (codes, norm) = model(v, cb)
      assert(got(id)._1 == codes, s"vec $id codes ${got(id)._1} vs $codes")
      assert(math.abs(got(id)._2 - norm) < 1e-9)
    }
  }

  test("ties take the first centroid; wrong-length vectors fail loud") {
    // two identical centroids: distance ties, code must be 0
    val cbs: Seq[Seq[Seq[Float]]] =
      Seq(Seq(Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)))
    val out = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("v")
      .select(GraftFunctions.pqAssign(spark, $"v", cbs).as("enc"))
      .select($"enc.code").as[Seq[Int]].head()
    assert(out == Seq(0))
    val err = intercept[Exception] {
      Seq(Tuple1(Array(1.0f, 0.0f, 0.0f))).toDF("v")
        .select(GraftFunctions.pqAssign(spark, $"v", cbs).as("enc"))
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("null vectors yield null, and the SQL registry path works") {
    val out = spark.sql(
      """SELECT pq_assign(CAST(NULL AS array<float>),
        |  array(array(array(CAST(1.0 AS float))))) AS enc""".stripMargin)
      .head()
    assert(out.isNullAt(0))
  }
}
