package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** CSV and JSON source/sink parity (SURVEY §2.2 row "Scans/sources":
  * free via DataFrameReader once the engine is Spark-native). Events
  * round-trip through both text formats and re-aggregate identically.
  */
class SourceFormatsSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("v"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq

  test("csv round-trip preserves aggregation results") {
    val events = Tables.events(s, d).drop("ts") // csv has no timestamp fidelity
    val dir = LocalScratch.tempDir("csv") + "/events"
    events.write.option("header", "true").csv(dir)
    val back = s.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(agg(back) === agg(events))
  }

  test("json round-trip preserves aggregation results") {
    val events = Tables.events(s, d)
    val dir = LocalScratch.tempDir("json") + "/events"
    events.write.json(dir)
    val back = s.read.json(dir)
    assert(agg(back) === agg(events))
  }

  test("i06 merged-schema read: old generation nulls the new column, new one fills it") {
    val rows = graft.sources.SourceFormats.evolvedScan(s, d).collect()
      .map(r => r.getAs[Int]("gen") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_lang"))).toMap
    assert(rows.keySet === Set(1, 2))
    assert(rows(1)._2 === 0L, "gen1 predates `lang`; merged read must null it")
    assert(rows(2)._2 === rows(2)._1, "gen2 carries lang on every row")
  }
}
