package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.types._
import graft.TestSpark

/** The JDBC sink's contract, offline and live. Offline: the writer
  * options (batch size, DDL types), the connection-fanout bound and the
  * stage names. Live, against embedded Derby and a DuckDB file (no
  * Postgres driver jar ships in this image): the staged write end to
  * end — reference ops #4/#6/#8 (reference `src/main.rs:60-72,146-149`)
  * — and its failure paths: a failed write leaves the target as it
  * was, a retried task attempt is published once, and no write leaves
  * a stage table behind.
  */
class RelationalSinkSpec extends AnyFunSuite {

  private def derbyProps = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props
  }

  private def query[T](url: String)(f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Tables in any schema whose name starts with the stage prefix. */
  private def stageTables(url: String): List[String] = query(url) { c =>
    val rs = c.getMetaData.getTables(null, null, "%", null)
    try Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME"))
      .filter(_.toLowerCase(java.util.Locale.ROOT).startsWith(JdbcSink.StagePrefix)).toList
    finally rs.close()
  }

  /** (count, sum) of the `v` column of a Derby table. */
  private def countAndSum(url: String, table: String): (Long, Double) = query(url) { c =>
    val rs = c.createStatement().executeQuery(s"""SELECT COUNT(*), SUM("v") FROM $table""")
    rs.next()
    (rs.getLong(1), rs.getDouble(2))
  }

  test("writerOptions carries the reference's batchsize=1000 and the SchemaMapper DDL") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("price", DecimalType(12, 2)),
      StructField("created", TimestampType),
      StructField("flags", ShortType)))
    val opts = JdbcSink.writerOptions(schema) // defaults = reference knobs
    // Spark-parseable types (the option goes through Spark's parser);
    // the PG dialect renders them as TEXT/NUMERIC/TIMESTAMPTZ on the wire
    assert(opts == Map(
      "batchsize" -> "1000",
      "createTableColumnTypes" ->
        ("id BIGINT, name STRING, price DECIMAL(12,2), " +
          "created TIMESTAMP, flags SMALLINT")))
  }

  test("bounded caps a wide write at 10 partitions (the reference's semaphore) without shuffling") {
    val spark = TestSpark.spark
    val wide = spark.range(0, 1000, 1, 32).toDF("id")
    val capped = JdbcSink.bounded(wide)
    assert(capped.rdd.getNumPartitions == 10)
    // coalesce, not repartition: the cap must not introduce an exchange
    assert(!capped.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("bounded leaves an already-thin write untouched") {
    val spark = TestSpark.spark
    val thin = spark.range(0, 10, 1, 4).toDF("id")
    assert(JdbcSink.bounded(thin).rdd.getNumPartitions == 4)
  }

  test("LIVE JDBC round-trip: DDL + batched inserts + read-back against embedded Derby") {
    // No Postgres driver ships offline, but Spark's own Derby jars do —
    // an embedded in-memory Derby database executes the REAL JdbcSink
    // path end to end: CREATE TABLE from createTableColumnTypes,
    // multi-row prepared-statement batches, connection fan-out capped
    // by coalesce, then spark.read.jdbc verification. Column choice is
    // deliberately string/timestamp-free: SchemaMapper emits the
    // Postgres dialect (TEXT/TIMESTAMPTZ), and BIGINT / DOUBLE
    // PRECISION are the portable subset Derby also accepts.
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val url = "jdbc:derby:memory:graftlive;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // batch 300 over ~1500 rows and 3 connections → several batches
    // per partition, exercising the reference's batching shape live
    new JdbcSink(url, props, batchSize = 300, numPartitions = 3)
      .write(df, "orders_live", org.apache.spark.sql.SaveMode.Overwrite)
    assert(stageTables(url).isEmpty)
    val back = spark.read.jdbc(url, "orders_live", props)
    val (nIn, sumIn) = df.agg(count(lit(1)), sum(col("o_totalprice")))
      .as[(Long, Double)](spark.implicits.newProductEncoder).head()
    val (nOut, sumOut) = back.agg(count(lit(1)), sum(col("o_totalprice")))
      .as[(Long, Double)](spark.implicits.newProductEncoder).head()
    assert(nOut === nIn && nIn > 0)
    assert(math.abs(sumOut - sumIn) < 1e-6)
    // key set survives exactly
    assert(back.select("o_orderkey").except(df.select("o_orderkey")).count() === 0)
    assert(df.select("o_orderkey").except(back.select("o_orderkey")).count() === 0)
  }

  test("DuckDbDialect classifies the catalog-miss probe exception (and only that)") {
    // Spark 4.x rethrows the tableExists probe unless the dialect says
    // "object not found"; DuckDB raises `Catalog Error: Table with name
    // t does not exist!` with a null SQLState.
    assert(DuckDbDialect.canHandle("jdbc:duckdb:/tmp/x.db"))
    assert(!DuckDbDialect.canHandle("jdbc:derby:memory:g"))
    assert(DuckDbDialect.isObjectNotFoundException(
      new java.sql.SQLException("Catalog Error: Table with name orders_live does not exist!")))
    assert(!DuckDbDialect.isObjectNotFoundException(
      new java.sql.SQLException("Constraint Error: Duplicate key violates primary key constraint")))
    assert(!DuckDbDialect.isObjectNotFoundException(new java.sql.SQLException()))
  }

  test("LIVE JDBC round-trip #2: DuckDB file database (second real dialect)") {
    // build.sbt globs the offline cache's duckdb_jdbc jar onto the test
    // classpath when present; this leg then runs the SAME JdbcSink path
    // against a second real database engine — different SQL dialect,
    // different driver, file-backed storage. Cancels (visible in the
    // report, not silently green) on images without the jar.
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "duckdb_jdbc jar absent from the offline cache")
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val db = java.nio.file.Paths.get(graft.LocalScratch.tempDir("graft_duck")).resolve("live.db")
    val url = s"jdbc:duckdb:$db"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.duckdb.DuckDBDriver")
    val df = graft.Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // One connection by design: DuckDB transactions are optimistically
    // concurrent and cross-connection appends to one table can raise
    // write-write conflicts — the fan-out shape is live-tested on the
    // Derby leg above; THIS leg adds dialect + driver diversity.
    new JdbcSink(url, props, batchSize = 300, numPartitions = 1)
      .write(df, "orders_live", org.apache.spark.sql.SaveMode.Overwrite)
    assert(stageTables(url).isEmpty)
    val back = spark.read.jdbc(url, "orders_live", props)
    val (nIn, sumIn) = df.agg(count(lit(1)), sum(col("o_totalprice")))
      .as[(Long, Double)](spark.implicits.newProductEncoder).head()
    val (nOut, sumOut) = back.agg(count(lit(1)), sum(col("o_totalprice")))
      .as[(Long, Double)](spark.implicits.newProductEncoder).head()
    assert(nOut === nIn && nIn > 0)
    assert(math.abs(sumOut - sumIn) < 1e-6)
    assert(back.select("o_orderkey").except(df.select("o_orderkey")).count() === 0)
    assert(df.select("o_orderkey").except(back.select("o_orderkey")).count() === 0)
  }

  test("stage names stay within 63 characters and differ per partition and attempt") {
    // PostgreSQL silently truncates longer identifiers, so two stages
    // named after a long target could collide
    val target = "t" * 60
    val token = JdbcSink.newToken()
    val names = for (p <- Seq(0, 1, Int.MaxValue); a <- Seq(0, 1, Int.MaxValue))
      yield JdbcSink.stageName(target, token, p, a)
    assert(names.forall(_.length <= 63), names)
    assert(names.distinct.size === names.size)
    // a schema-qualified target keeps its stages in the same schema
    assert(JdbcSink.stageName(s"sales.$target", token, 1, 0) ===
      "sales." + JdbcSink.stageName(target, token, 1, 0))
  }

  test("a write that fails partway leaves the target as it was and no stage behind") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val url = "jdbc:derby:memory:graftfail;create=true"
    val sink = new JdbcSink(url, derbyProps, batchSize = 100, numPartitions = 3)
    val seed = spark.range(0, 500, 1, 2).select(col("id"), (col("id") * 1.5).as("v"))
    sink.write(seed, "fail_target", SaveMode.Overwrite)
    val seeded = countAndSum(url, "fail_target")
    assert(seeded === ((500L, 1.5 * 499 * 500 / 2)))
    // Partition 2 of 3 holds ids 2000..2999 and throws at its 501st
    // row, after five of its batches ran. Partition 0 takes a second
    // to produce its first row, so it creates its stage after the job
    // has already failed; the write must still leave no stage behind.
    val slow = udf((id: Long) => { if (id == 0) Thread.sleep(1000); id * 1.5 })
    val bad = spark.range(0, 3000, 1, 3).select(col("id"),
      when(col("id") === 2500, raise_error(lit("injected write failure")))
        .otherwise(slow(col("id"))).as("v"))
    val tracker = spark.sparkContext.statusTracker
    Seq(SaveMode.Append, SaveMode.Overwrite).foreach { mode =>
      val e = intercept[Exception](sink.write(bad, "fail_target", mode))
      assert(e.getMessage.contains("injected write failure"), mode)
      // the failed job's other tasks have ended before the catalog is read
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(countAndSum(url, "fail_target") === seeded, mode)
      assert(stageTables(url).isEmpty, mode)
    }
  }

  test("a retried task attempt is published once: only returned stages are copied") {
    // In local mode a task is not retried, so this drives the per-task
    // stage writer directly, as the retries of one partition would,
    // each call in a one-task job of its own.
    def inTask(stage: () => Option[String]): Option[String] =
      TestSpark.spark.sparkContext.parallelize(Seq(0), 1).map(_ => stage()).collect().head
    val url = "jdbc:derby:memory:graftretry;create=true"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
    val w = JdbcSink.StagedWrite(
      JdbcSink.options(url, "retry_target", derbyProps, schema, batchSize = 100),
      schema, caseSensitive = false)
    val (p0, p1) = (0 until 1000).map(i => Row(i.toLong, i * 1.5)).splitAt(500)
    // attempt 0 of partition 0 dies after 250 rows, two batches executed
    val e = intercept[Exception](inTask(() => w.writeStage(0, 0, p0.iterator.zipWithIndex.map {
      case (r, i) => if (i == 250) throw new RuntimeException("injected") else r
    })))
    assert(e.getMessage.contains("injected"))
    // attempt 1 commits its stage, but its result never reaches the
    // driver (its executor is lost), so attempt 2 writes the partition again
    assert(inTask(() => w.writeStage(0, 1, p0.iterator)).isDefined)
    val returned = Seq(inTask(() => w.writeStage(0, 2, p0.iterator)),
      inTask(() => w.writeStage(1, 0, p1.iterator))).flatten
    assert(stageTables(url).size === 4)
    w.publish(returned, overwrite = false)
    w.dropStages()
    assert(countAndSum(url, "retry_target") === ((1000L, 1.5 * 999 * 1000 / 2)))
    assert(stageTables(url).isEmpty)
  }
}
