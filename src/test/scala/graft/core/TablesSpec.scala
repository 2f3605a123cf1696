package graft.core

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The schema memo in [[Tables.load]]: Spark infers each file version's
  * schema once, later loads run no Spark job, and the rows read with
  * the memo's schema are the rows a plain `spark.read.parquet` reads. */
class TablesSpec extends SparkSpec {
  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def withNanosAsLong[T](on: Boolean)(body: => T): T =
    withConf("spark.sql.legacy.parquet.nanosAsLong", on.toString)(body)

  test("a second load of a table runs no Spark job") {
    val d = tmpDir("tables-memo")
    spark.range(10).write.parquet(s"$d/t.parquet")
    assert(jobsIn(Tables.load(spark, d, "t")) >= 1, "the first load infers the schema")
    assert(jobsIn(Tables.load(spark, d, "t")) == 0)
    Tables.orders(spark, sf)
    assert(jobsIn(Tables.orders(spark, sf)) == 0)
  }

  test("a file rewritten with a different schema at the same path is re-inferred") {
    val d = tmpDir("tables-rewrite")
    spark.range(5).write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("id"))
    spark.range(5).selectExpr("id", "cast(id AS string) AS s")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val again = Tables.load(spark, d, "t")
    assert(again.columns.toSeq == Seq("id", "s"))
    assert(again.collect().map(_.getString(1)).sorted.toSeq == (0 until 5).map(_.toString))
  }

  test("events read with nanosAsLong on and off each get their own schema") {
    // a TIMESTAMP(NANOS) ts column, as some corpus generations ship it
    val d = tmpDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$d/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      writer.write(groups.newGroup().append("event_id", i)
        .append("ts", i * 1000000000L + 123456789L))
    } finally writer.close()

    // every GraftSession reads nanos as long
    val raw = Tables.load(spark, d, "events")
    assert(raw.schema("ts").dataType == LongType)
    val plain = withNanosAsLong(on = false) {
      scala.util.Try(spark.read.parquet(s"$d/events.parquet").schema("ts").dataType)
    }
    val memo = withNanosAsLong(on = false) {
      scala.util.Try(Tables.load(spark, d, "events").schema("ts").dataType)
    }
    assert(memo.map(_.toString) == plain.map(_.toString) ||
      memo.isFailure && plain.isFailure,
      s"with nanosAsLong off the memo must read as Spark does: $memo vs $plain")
    assert(!memo.toOption.contains(LongType))

    val conf = spark.conf.getAll
    val ev = Tables.events(spark, d)
    assert(spark.conf.getAll == conf, "loading events changed the session conf")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq ==
      (1L to 3L).map(i => i * 1000000L + 123456L))
  }

  test("no table is inferred twice in a session, events loaded or not") {
    val d = tmpDir("tables-once")
    spark.range(10).write.parquet(s"$d/t.parquet")
    spark.range(3).selectExpr("id AS event_id", "timestamp_seconds(id) AS ts")
      .write.parquet(s"$d/events.parquet")
    assert(jobsIn(Tables.load(spark, d, "t")) >= 1, "the first load infers the schema")
    assert(jobsIn(Tables.events(spark, d)) >= 1, "the first events load infers the schema")
    assert(jobsIn(Tables.load(spark, d, "t")) == 0, "events re-keyed the memo")
    assert(jobsIn(Tables.events(spark, d)) == 0)
  }

  test("memo-read rows equal plain spark.read.parquet rows for every sf0.01 table") {
    val d = new java.io.File(sf).getParent + "/sf0.01"
    Tables.names.foreach { t =>
      val viaMemo = Tables.load(spark, d, t)
      val plain = spark.read.parquet(s"$d/$t.parquet")
      assert(viaMemo.schema == plain.schema, t)
      assert(viaMemo.collect().toSeq == plain.collect().toSeq, t)
    }
  }
}
