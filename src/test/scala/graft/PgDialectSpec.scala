package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.apache.spark.sql.jdbc.JdbcDialects
import graft.sources.{JdbcSink, SchemaMapper}

/** Offline pin of the PostgreSQL dialect path — the reference's actual
  * target (`/root/reference/src/main.rs:60-64` connect string,
  * `:104-118` generated DDL). No PG driver jar exists in this
  * environment, so the wire protocol can't be exercised; what CAN be
  * proven offline is the entire Spark side of the contract:
  *
  *   1. every `SchemaMapper.sparkDdlType` token round-trips through
  *      Spark's own DDL parser (the `createTableColumnTypes` option is
  *      parsed by SPARK, not the database — the bug class the live
  *      Derby spec caught in round 3), and
  *   2. Spark's REAL PostgresDialect (shipped in the Spark jars,
  *      selected by the postgresql:// URL exactly as a live write
  *      would) renders each type to a pinned PG DDL string.
  *
  * A future environment with a PG driver needs only a URL swap: the
  * option strings, the parser behavior, and the dialect rendering are
  * all already exercised here.
  */
class PgDialectSpec extends AnyFunSuite {

  private val pg = JdbcDialects.get("jdbc:postgresql://localhost/graft")

  /** What PostgreSQL receives for a Spark type — the dialect's own
    * mapping with JdbcUtils' common fallback, mirroring
    * JdbcUtils.getJdbcType on a real `df.write.jdbc`. */
  private def pgDdl(dt: DataType): String =
    pg.getJDBCType(dt)
      .orElse(org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
        .getCommonJDBCType(dt))
      .map(_.databaseTypeDefinition)
      .getOrElse(fail(s"PostgresDialect has no mapping for ${dt.sql}"))

  /** (spark type, pinned createTableColumnTypes token, what the token
    * parses back to, pinned PG DDL). The parse-back column differs
    * from the input only where SchemaMapper deliberately widens
    * (Byte→Short, mirroring PG's lack of a 1-byte int). */
  private val table: Seq[(DataType, String, DataType, String)] = Seq(
    (BooleanType, "BOOLEAN", BooleanType, "BOOLEAN"),
    (ByteType, "SMALLINT", ShortType, "SMALLINT"),
    (ShortType, "SMALLINT", ShortType, "SMALLINT"),
    (IntegerType, "INT", IntegerType, "INTEGER"),
    (LongType, "BIGINT", LongType, "BIGINT"),
    (FloatType, "FLOAT", FloatType, "FLOAT4"),
    (DoubleType, "DOUBLE", DoubleType, "FLOAT8"),
    (StringType, "STRING", StringType, "TEXT"),
    (BinaryType, "BINARY", BinaryType, "BYTEA"),
    (DateType, "DATE", DateType, "DATE"),
    (TimestampType, "TIMESTAMP", TimestampType, "TIMESTAMP WITH TIME ZONE"),
    (TimestampNTZType, "TIMESTAMP_NTZ", TimestampNTZType, "TIMESTAMP"),
    (DecimalType(12, 2), "DECIMAL(12,2)", DecimalType(12, 2), "NUMERIC(12,2)"),
    (ArrayType(FloatType), "ARRAY<FLOAT>", ArrayType(FloatType), "FLOAT4[]"))

  test("sparkDdlType tokens are Spark-parseable and parse to the intended type") {
    table.foreach { case (dt, token, parsed, _) =>
      assert(SchemaMapper.sparkDdlType(dt) === token, s"token drifted for ${dt.sql}")
      assert(DataType.fromDDL(token) === parsed,
        s"$token does not parse back to ${parsed.sql}")
    }
  }

  test("PostgresDialect renders every mapped type to the pinned PG DDL") {
    table.foreach { case (_, token, parsed, ddl) =>
      assert(pgDdl(parsed) === ddl, s"PG DDL drifted for $token")
    }
  }

  test("the reference's reliably-working surface maps losslessly (no FLOAT merge)") {
    // main.rs:111 merged Float32 AND Float64 into PG FLOAT (= double
    // precision) — lossy for Float32 storage intent. The dialect keeps
    // them distinct; pin that we do NOT inherit the merge.
    assert(pgDdl(FloatType) !== pgDdl(DoubleType))
    // and the §1.4 insert-time failures (SMALLINT/DATE/TIMESTAMP
    // landing in a TEXT column) are structurally impossible: DDL and
    // value paths share one mapping.
    Seq(ShortType, DateType, TimestampType).foreach { dt =>
      assert(pgDdl(dt) !== "TEXT")
    }
  }

  test("full createTableColumnTypes strings parse as a schema") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DecimalType(12, 2)),
      StructField("tag", StringType), StructField("ts", TimestampType)))
    val opt = SchemaMapper.createTableColumnTypes(schema)
    assert(opt === "id BIGINT, price DECIMAL(12,2), tag STRING, ts TIMESTAMP")
    // Spark parses the whole option as a struct DDL on a real write
    assert(StructType.fromDDL(opt).length === 4)
  }

  /** The statements `body` sends through a JDBC connection that only
    * records them. */
  private def recorded(body: java.sql.Connection => Unit): Seq[String] = {
    import java.lang.reflect.{InvocationHandler, Proxy}
    val sqls = Seq.newBuilder[String]
    def fake[T](cls: Class[T])(answer: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
      Proxy.newProxyInstance(getClass.getClassLoader, Array(cls), new InvocationHandler {
        def invoke(p: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef =
          answer.applyOrElse((m.getName, args), (_: (String, Array[AnyRef])) => null)
      }).asInstanceOf[T]
    val statement = fake(classOf[java.sql.Statement]) {
      case ("executeUpdate", args) => sqls += args(0).toString; Int.box(0)
    }
    body(fake(classOf[java.sql.Connection]) { case ("createStatement", _) => statement })
    sqls.result()
  }

  test("JdbcSink's stage DDL and publish statement under PostgresDialect") {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_extendedprice", DecimalType(12, 2)),
      StructField("l_shipdate", DateType),
      StructField("l_comment", StringType)))
    val props = new java.util.Properties()
    // JDBCOptions loads the named driver class when it is built and no
    // PG driver ships here; the dialect is chosen by the URL alone.
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val target = "public.lineitem"
    val w = JdbcSink.StagedWrite(
      JdbcSink.options("jdbc:postgresql://localhost/graft", target, props, schema, 1000),
      schema, caseSensitive = false, token = "0123456789ab")
    val stage = JdbcSink.stageName(target, w.token, 3, 1)
    assert(stage === "public.graft_stg_0123456789ab_3_1")
    val stageDdl = recorded(w.createTable(_, stage))
    assert(stageDdl === Seq("CREATE TABLE public.graft_stg_0123456789ab_3_1 (" +
      "\"l_orderkey\" BIGINT NOT NULL, \"l_extendedprice\" NUMERIC(12,2) , " +
      "\"l_shipdate\" DATE , \"l_comment\" TEXT ) "))
    // the stage carries exactly the target's column types
    assert(recorded(w.createTable(_, target)) === stageDdl.map(_.replace(stage, target)))
    val cols = "\"l_orderkey\", \"l_extendedprice\", \"l_shipdate\", \"l_comment\""
    assert(w.publishSql(stage, None) ===
      s"INSERT INTO public.lineitem ($cols) SELECT $cols FROM $stage")
    // appending to an existing table keeps that table's spelling of
    // each column, as Spark's own JDBC writer does
    val existing = StructType(schema.map(f => f.copy(name = f.name.toUpperCase)))
    assert(w.publishSql(stage, Some(existing)) ===
      s"INSERT INTO public.lineitem (${cols.toUpperCase}) SELECT $cols FROM $stage")
  }
}
