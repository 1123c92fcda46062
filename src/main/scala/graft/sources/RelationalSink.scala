package graft.sources

import java.sql.Connection
import java.util.{Locale, Properties, UUID}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

/** Relational sink — the reference's whole reason to exist
  * (`/root/reference/src/main.rs:120-151`): batched, concurrent
  * `INSERT`s into Postgres.
  *
  * The reference shape: ≤10 concurrent insert tasks (semaphore,
  * `src/main.rs:68`), 1000-row multi-row INSERT statements
  * (`src/main.rs:74,126-149`), pooled connections (`src/main.rs:65`).
  * [[JdbcSink]] keeps the concurrency cap (one connection per
  * partition, `numPartitions` = the semaphore) and the batch size, but
  * not the statement shape: Spark's JDBC writer prepares a one-row
  * `INSERT … VALUES (?, …)` and adds it to a JDBC batch once per row,
  * executing the batch every `batchsize` rows. On PostgreSQL,
  * `reWriteBatchedInserts=true` in the URL makes the driver send those
  * batches as multi-row INSERTs.
  *
  * The write is staged and published once (see [[JdbcSink]]): a write
  * that fails leaves the target as it was, and no stage table behind.
  * The sink needs CREATE privilege in the target's schema, where its
  * stage tables live while the write runs.
  *
  * No Postgres JDBC driver jar ships in this offline image (SURVEY
  * §7.1), but Spark's own embedded Derby does: RelationalSinkSpec
  * executes this sink LIVE against `jdbc:derby:memory:` — real DDL,
  * real batched inserts, read-back verified. That live run is what
  * caught the createTableColumnTypes dialect bug (see
  * SchemaMapper.sparkDdlType). [[ParquetSink]] remains the bulk-test
  * sink through the same trait.
  */
trait RelationalSink {
  def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Append): Unit
}

/** Postgres/JDBC sink with the reference's knobs as defaults:
  * batch 1000 (`src/main.rs:74`), fan-out 10 (`src/main.rs:68`).
  *
  * A staged write-audit-publish. Each partition attempt creates its own
  * stage table with the target's DDL and fills it through Spark's
  * `JdbcUtils.savePartition`, so batching, setters, isolation level and
  * dialect are those of `df.write.jdbc`; the tasks return the names of
  * the stages they wrote. The driver then copies exactly those stages
  * into the target in one transaction (for Overwrite, dropping and
  * recreating the target inside it), and finally drops every table
  * carrying the write's token. Writers never share an insert page, and
  * a stage written by a failed or superseded task attempt is never
  * published, so a retried task cannot duplicate rows.
  *
  * Option construction and partition bounding are factored into
  * [[JdbcSink.writerOptions]] / [[JdbcSink.bounded]] so the exact
  * contract is unit-testable in isolation, and the whole path also
  * executes LIVE against embedded Derby in RelationalSinkSpec —
  * covering reference ops #4/#6/#8
  * (`/root/reference/src/main.rs:60-72,146-149`) with a real
  * database despite the offline image.
  */
final class JdbcSink(url: String, props: java.util.Properties,
                     batchSize: Int = 1000, numPartitions: Int = 10)
    extends RelationalSink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    // DuckDB's driver reports no SQLState, so without a registered
    // dialect Spark's table-existence probe rethrows and kills the
    // write (see DuckDbDialect). Registration is idempotent and a
    // no-op for every other URL scheme.
    if (url.startsWith("jdbc:duckdb:")) DuckDbDialect.ensureRegistered()
    val staged = JdbcSink.StagedWrite(JdbcSink.options(url, table, props, df.schema, batchSize),
      df.schema, df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean)
    mode match {
      case SaveMode.ErrorIfExists | SaveMode.Ignore if staged.targetExists() =>
        if (mode == SaveMode.ErrorIfExists)
          throw new IllegalStateException(s"table $table already exists")
      case _ =>
        val job = JdbcSink.bounded(df, numPartitions).rdd.mapPartitions { rows =>
          val task = TaskContext.get()
          staged.writeStage(task.partitionId, task.attemptNumber, rows).iterator
        }.collectAsync()
        def cleanup(): Unit = {
          JdbcSink.awaitTasks(df.sparkSession.sparkContext, job.jobIds)
          staged.dropStages()
        }
        try staged.publish(Await.result(job, Duration.Inf), mode == SaveMode.Overwrite)
        catch {
          case e: Throwable =>
            if (!job.isCompleted) job.cancel()
            Try(cleanup()).failed.foreach(e.addSuppressed)
            throw e
        }
        cleanup()
    }
  }
}

object JdbcSink {
  /** The options the sink adds to the connection properties: the JDBC
    * batch size (reference `src/main.rs:74`) and the dialect DDL types
    * from SchemaMapper (reference `generate_create_table_sql`). */
  def writerOptions(schema: StructType, batchSize: Int = 1000): Map[String, String] =
    Map(
      "batchsize" -> batchSize.toString,
      "createTableColumnTypes" -> SchemaMapper.createTableColumnTypes(schema))

  /** Spark's parsed JDBC write options for one write: the connection
    * properties, [[writerOptions]], the URL and the target table. */
  def options(url: String, table: String, props: Properties, schema: StructType,
              batchSize: Int): JdbcOptionsInWrite =
    new JdbcOptionsInWrite(props.asScala.toMap ++ writerOptions(schema, batchSize) ++
      Map("url" -> url, "dbtable" -> table))

  /** Caps concurrent DB connections exactly like the reference's
    * `Semaphore::new(10)` capped in-flight inserts: one JDBC
    * connection per partition, so ≤ numPartitions connections
    * regardless of cluster parallelism. Unconditional `coalesce`:
    * it is already a planning no-op on an input at or under the cap
    * (coalesce never widens), so no partition-count probe is needed —
    * probing via `df.rdd` would force a second physical planning of
    * the whole lineage just to learn a number the operator ignores. */
  def bounded(df: DataFrame, numPartitions: Int = 10): DataFrame =
    df.coalesce(numPartitions)

  val StagePrefix = "graft_stg_"

  /** A short random token naming one write's stage tables. */
  def newToken(): String = UUID.randomUUID().toString.replace("-", "").take(12)

  /** The stage table of one partition attempt, in the target's schema.
    * Built from the token rather than the target name, so it stays at
    * most 44 characters: PostgreSQL silently truncates identifiers past
    * 63, which could make two long stage names collide. */
  def stageName(table: String, token: String, partition: Int, attempt: Int): String =
    table.substring(0, table.lastIndexOf('.') + 1) + s"$StagePrefix${token}_${partition}_$attempt"

  /** One staged write of `schema`-shaped rows into `options.table`. It
    * is shipped to every write task, so it holds only serializable
    * state; the dialect is resolved on the driver, where DuckDbDialect
    * is registered. */
  final case class StagedWrite(options: JdbcOptionsInWrite, schema: StructType,
                               caseSensitive: Boolean, token: String = newToken()) {
    private val dialect = JdbcDialects.get(options.url)

    def targetExists(): Boolean =
      JdbcUtils.withConnection(options)(JdbcUtils.tableExists(_, options))

    /** The target's DDL under `table`: the same column types for the
      * target and every stage. */
    def createTable(conn: Connection, table: String): Unit =
      JdbcUtils.createTable(conn, table, schema, caseSensitive, options)

    /** Task side: creates this attempt's stage and fills it. Returns the
      * stage's name; an empty partition writes no stage. */
    def writeStage(partition: Int, attempt: Int, rows: Iterator[Row]): Option[String] =
      if (!rows.hasNext) None
      else {
        val stage = stageName(options.table, token, partition, attempt)
        JdbcUtils.withConnection(options)(createTable(_, stage))
        JdbcUtils.savePartition(stage, rows, schema,
          JdbcUtils.getInsertStatement(stage, schema, None, caseSensitive, dialect),
          options.batchSize, dialect, options.isolationLevel, options)
        Some(stage)
      }

    /** `INSERT INTO target (cols) SELECT cols FROM stage`. The target's
      * column names come from `tableSchema` when the target already
      * exists, matched as Spark's own JDBC writer matches them. */
    def publishSql(stage: String, tableSchema: Option[StructType]): String = {
      val names = schema.fieldNames.toSeq
      val into = tableSchema.fold(names)(ts => names.map { n =>
        ts.fieldNames.find(t => if (caseSensitive) t == n else t.equalsIgnoreCase(n))
          .getOrElse(throw new IllegalArgumentException(s"column $n is not in ${options.table}"))
      })
      def cols(ns: Seq[String]) = ns.map(dialect.quoteIdentifier).mkString(", ")
      s"INSERT INTO ${options.table} (${cols(into)}) SELECT ${cols(names)} FROM $stage"
    }

    /** Driver side, after every task succeeded: copies `stages` into the
      * target in one transaction. Overwrite drops and recreates the
      * target inside it; Append creates a missing target inside it. */
    def publish(stages: Seq[String], overwrite: Boolean): Unit =
      JdbcUtils.withConnection(options) { conn =>
        // Probed before the transaction opens: on PostgreSQL the failed
        // probe of a missing table would abort the transaction.
        val exists = JdbcUtils.tableExists(conn, options)
        val tableSchema =
          if (exists && !overwrite) JdbcUtils.getSchemaOption(conn, options) else None
        conn.setAutoCommit(false)
        try {
          if (exists && overwrite) JdbcUtils.dropTable(conn, options.table, options)
          if (!exists || overwrite) createTable(conn, options.table)
          val st = conn.createStatement()
          try stages.foreach(s => st.executeUpdate(publishSql(s, tableSchema)))
          finally st.close()
          conn.commit()
        } catch {
          case e: Throwable => Try(conn.rollback()).failed.foreach(e.addSuppressed); throw e
        }
      }

    /** Drops every table carrying this write's token, in any schema: the
      * published stages and those of failed or superseded attempts. */
    def dropStages(): Unit = JdbcUtils.withConnection(options) { conn =>
      val prefix = s"$StagePrefix${token}_"
      val md = conn.getMetaData
      // Stages are created unquoted, so the catalog holds their names
      // in the database's folded case. `_` is a one-character wildcard
      // in the pattern, hence the exact prefix check below.
      val pattern = if (md.storesUpperCaseIdentifiers) prefix.toUpperCase(Locale.ROOT) else prefix
      val rs = md.getTables(null, null, pattern + "%", null)
      val found =
        try Iterator.continually(rs).takeWhile(_.next())
          .map(r => (Option(r.getString("TABLE_SCHEM")), r.getString("TABLE_NAME"))).toList
        finally rs.close()
      val st = conn.createStatement()
      try found.filter(_._2.toLowerCase(Locale.ROOT).startsWith(prefix)).foreach {
        case (schem, name) =>
          st.executeUpdate(dialect.dropTable(
            (schem.toSeq :+ name).map(dialect.quoteIdentifier).mkString(".")))
      } finally st.close()
    }
  }

  /** Waits, at most a minute, until no task of `jobIds` still runs. A
    * failed job returns while its other tasks may still be filling
    * their stages; sweeping before they end would leave those behind. */
  private def awaitTasks(sc: SparkContext, jobIds: Seq[Int]): Unit = {
    val tracker = sc.statusTracker
    def running = jobIds.exists(id => tracker.getJobInfo(id).forall { job =>
      job.status == JobExecutionStatus.RUNNING ||
        job.stageIds.exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0))
    })
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

/** Test/offline sink: same trait, parquet directory instead of a DB. */
final class ParquetSink(baseDir: String) extends RelationalSink {
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    df.write.mode(mode).parquet(s"$baseDir/$table")
}
