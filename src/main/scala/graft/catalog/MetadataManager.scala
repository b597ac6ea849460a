package graft.catalog

import java.sql.{Connection, DriverManager, ResultSet, SQLException, Statement}
import scala.collection.mutable.ArrayBuffer
import scala.util.Using

/** JDBC metadata manager: all lake state is rows in ordinary SQL tables,
  * exactly the DuckLake design ("SQL as a Lakehouse Format") — the 23-table
  * schema of GetCreateTableStatements (reference
  * src/storage/ducklake_metadata_manager.cpp:228-301 + v1.1 migration
  * :426-436), re-expressed in portable JDBC SQL (default backend: embedded
  * Derby; the SQL sticks to the common subset so Postgres/SQLite-style
  * backends can subclass dialect hooks like the reference's
  * SQLite/Postgres/Quack managers).
  *
  * Commits are optimistic: a new row in ducklake_snapshot with PK
  * snapshot_id is the atomicity point; on conflict the commit loop retries
  * with backoff after semantic conflict checks (reference
  * src/storage/ducklake_transaction.cpp:1418-1545, defaults
  * src/ducklake_extension.cpp:29-35: 10 retries, 100 ms, 1.5x backoff).
  */
class MetadataManager(val jdbcUrl: String,
    val metaSchema: Option[String] = None) extends Serializable {

  import MetadataManager.FormatVersion

  // cap embedded Derby's per-database open-file (ContainerCache) count
  // BEFORE the engine boots: the default of 100 RandomAccessFiles per
  // database exhausts the process fd limit when a test/verify run
  // attaches hundreds of throwaway lakes in one JVM (observed: "Too many
  // open files" at ~350 suites). 24 comfortably covers the hot
  // ducklake_* tables; colder containers reopen on demand.
  if (jdbcUrl.startsWith("jdbc:derby:") &&
      System.getProperty("derby.storage.fileCacheSize") == null)
    System.setProperty("derby.storage.fileCacheSize", "24")

  /** backend dialect resolved from the URL (Derby embedded default;
    * Postgres/SQLite for server/file catalogs — [[CatalogDialect]]) */
  val dialect: CatalogDialect = CatalogDialect.forUrl(jdbcUrl)

  // ---------------------------------------------------------------- plumbing

  protected def connect(): Connection =
    if (jdbcUrl.startsWith("http://") || jdbcUrl.startsWith("https://"))
      // quack-style transport: catalog SQL ships to the service
      // ([[HttpCatalogServer]]); same transactions + SQLSTATE semantics
      HttpCatalogClient.connect(jdbcUrl)
    else if (jdbcUrl.startsWith("jdbc:sqlite:"))
      // a real sqlite JDBC driver on the classpath wins; without one,
      // bridge to the host's sqlite3 engine ([[SqliteCliCatalog]]) so the
      // SQLite dialect runs against an actual SQLite, not just Derby
      try {
        val c = DriverManager.getConnection(jdbcUrl)
        c.setAutoCommit(false)
        c
      } catch {
        case e: SQLException if e.getMessage != null &&
            e.getMessage.contains("No suitable driver") &&
            SqliteCliCatalog.available =>
          SqliteCliCatalog.connect(jdbcUrl.stripPrefix("jdbc:sqlite:"))
      }
    else if (jdbcUrl.startsWith("jdbc:postgresql:"))
      // same fallback story for Postgres: pgjdbc on the classpath wins;
      // without it, run the Postgres-dialect SQL through a real server
      // via the psql CLI ([[PostgresCliCatalog]])
      try {
        val c = DriverManager.getConnection(jdbcUrl)
        c.setAutoCommit(false)
        c
      } catch {
        case e: SQLException if e.getMessage != null &&
            e.getMessage.contains("No suitable driver") &&
            PostgresCliCatalog.available =>
          PostgresCliCatalog.connect(jdbcUrl)
      }
    else {
      val c = DriverManager.getConnection(jdbcUrl)
      c.setAutoCommit(false)
      c
    }

  /** Embedded-Derby shutdown (DETACH support): flush and close the
    * database so its file handles release; the expected SQLSTATE 08006
    * ("database shut down") signals success. Non-Derby catalogs hold no
    * local engine state — no-op. A later connect() transparently
    * re-boots the database. */
  def shutdown(): Unit = MetadataManager.shutdownDerby(jdbcUrl)

  /** Raw backend connection for tests/tools that inspect catalog rows
    * directly — routes through the same backend resolution as every
    * manager operation (Derby/PG driver, HTTP transport, sqlite3 CLI
    * bridge). Caller closes. */
  private[graft] def openConnection(): Connection = connect()

  protected def withConn[A](f: Connection => A): A =
    Using.resource(connect()) { c =>
      try { val r = f(c); c.commit(); r }
      catch { case e: Throwable => try c.rollback() catch { case _: Throwable => () }; throw e }
    }

  private def qLong(c: Connection, sql: String, args: Any*): Option[Long] =
    query(c, sql, args: _*)(rs => rs.getLong(1)).headOption

  /** METADATA_SCHEMA support (reference ATTACH option,
    * transaction_schema.test: many lakes share ONE metadata store under
    * different schemas): every `ducklake_*` table reference is qualified
    * with the configured schema at the SQL chokepoints. The negative
    * lookbehind makes the rewrite idempotent (an already-qualified
    * `s.ducklake_x` is skipped). */
  protected def qualify(sql: String): String = metaSchema match {
    case Some(s) =>
      sql.replaceAll("(?i)(?<![.\\w\"])(ducklake_[a-z0-9_]+)", s"$s.$$1")
    case None => sql
  }

  // ------------------------------------------- metadata query logging
  // (reference ducklake_metadata_logging.test: enable_logging
  // ('DuckLakeMetadata') records every catalog SQL with its latency).
  // Bounded ring so a long session cannot grow without limit.
  @volatile private[catalog] var loggingEnabled = false
  private val logCap = 10000
  private val queryLogBuf =
    new ArrayBuffer[(Long, String, Long)] // (epoch ms, sql, elapsed µs)
  private def recordLog(sql: String, t0: Long): Unit =
    if (loggingEnabled) queryLogBuf.synchronized {
      if (queryLogBuf.size >= logCap) queryLogBuf.remove(0)
      queryLogBuf += ((System.currentTimeMillis(), sql,
        (System.nanoTime() - t0) / 1000L))
    }
  private[catalog] def queryLogSnapshot(): Seq[(Long, String, Long)] =
    queryLogBuf.synchronized(queryLogBuf.toSeq)
  private[catalog] def clearQueryLog(): Unit =
    queryLogBuf.synchronized(queryLogBuf.clear())

  protected def query[A](c: Connection, sql: String, args: Any*)(
      f: ResultSet => A): Seq[A] = {
    // read-your-writes inside a staging window: pending writes flush
    // (one script round trip, no commit) before the query runs
    if (HttpCatalogClient.stagingActive(c))
      HttpCatalogClient.flushStaged(c, commit = false)
    val t0 = System.nanoTime()
    try Using.resource(c.prepareStatement(qualify(sql))) { ps =>
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      Using.resource(ps.executeQuery()) { rs =>
        val out = ArrayBuffer.empty[A]
        while (rs.next()) out += f(rs)
        out.toSeq
      }
    } finally recordLog(sql, t0)
  }

  protected def exec(c: Connection, sql: String, args: Any*): Int = {
    // staged server-side commit: writes inside a staging window buffer
    // client-side and ship as one script (affected count unknown → -2,
    // JDBC SUCCESS_NO_INFO; no commit-path caller depends on it)
    if (HttpCatalogClient.stage(c, qualify(sql), Seq(args.toSeq)))
      return java.sql.Statement.SUCCESS_NO_INFO
    val t0 = System.nanoTime()
    try Using.resource(c.prepareStatement(qualify(sql))) { ps =>
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      ps.executeUpdate()
    } finally recordLog(sql, t0)
  }

  /** One prepared statement, many rows, one executeBatch — the staged-
    * commit shape (reference ducklake_staged_commit.cpp builds the whole
    * commit as one SQL batch so a remote Postgres catalog pays one round
    * trip, not files×columns). Against embedded Derby this only saves
    * statement setup; against a server catalog it is the difference
    * between O(1) and O(rows) network round trips per commit. */
  protected def execBatch(c: Connection, sql: String,
      rows: Seq[Seq[Any]]): Unit =
    if (rows.nonEmpty) {
      if (HttpCatalogClient.stage(c, qualify(sql), rows)) return
      val t0 = System.nanoTime()
      try Using.resource(c.prepareStatement(qualify(sql))) { ps =>
        rows.foreach { args =>
          args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
          ps.addBatch()
        }
        ps.executeBatch(): Unit
      } finally recordLog(s"[batch ${rows.size}] $sql", t0)
    }

  private def optLong(rs: ResultSet, col: String): Option[Long] = {
    val v = rs.getLong(col)
    if (rs.wasNull()) None else Some(v)
  }
  private def optString(rs: ResultSet, col: String): Option[String] =
    Option(rs.getString(col))

  // ------------------------------------------------------------------- DDL

  /** The reference's metadata tables (SURVEY.md §1.2). VARCHAR sizes are
    * Derby-friendly; *_snapshot validity ranges everywhere for time travel. */
  private val createTableStatements: Seq[String] = Seq(
    """CREATE TABLE ducklake_metadata (
      |  mkey VARCHAR(256) NOT NULL, mvalue VARCHAR(4096) NOT NULL,
      |  scope VARCHAR(32), scope_id BIGINT)""",
    """CREATE TABLE ducklake_snapshot (
      |  snapshot_id BIGINT NOT NULL PRIMARY KEY,
      |  snapshot_time BIGINT NOT NULL,
      |  schema_version BIGINT NOT NULL,
      |  next_catalog_id BIGINT NOT NULL,
      |  next_file_id BIGINT NOT NULL)""",
    """CREATE TABLE ducklake_snapshot_changes (
      |  snapshot_id BIGINT NOT NULL PRIMARY KEY,
      |  changes_made VARCHAR(32000),
      |  author VARCHAR(256), commit_message VARCHAR(4096),
      |  commit_extra_info VARCHAR(4096))""",
    """CREATE TABLE ducklake_schema (
      |  schema_id BIGINT NOT NULL, schema_uuid VARCHAR(64),
      |  begin_snapshot BIGINT, end_snapshot BIGINT,
      |  schema_name VARCHAR(256), path VARCHAR(4096),
      |  path_is_relative BOOLEAN)""",
    """CREATE TABLE ducklake_table (
      |  table_id BIGINT NOT NULL, table_uuid VARCHAR(64),
      |  begin_snapshot BIGINT, end_snapshot BIGINT,
      |  schema_id BIGINT, table_name VARCHAR(256), path VARCHAR(4096),
      |  path_is_relative BOOLEAN)""",
    """CREATE TABLE ducklake_view (
      |  view_id BIGINT NOT NULL, view_uuid VARCHAR(64),
      |  begin_snapshot BIGINT, end_snapshot BIGINT, schema_id BIGINT,
      |  view_name VARCHAR(256), dialect VARCHAR(64), sql_text VARCHAR(32000),
      |  column_aliases VARCHAR(4096))""",
    """CREATE TABLE ducklake_tag (
      |  object_id BIGINT, begin_snapshot BIGINT, end_snapshot BIGINT,
      |  tag_key VARCHAR(256), tag_value VARCHAR(4096))""",
    """CREATE TABLE ducklake_column_tag (
      |  table_id BIGINT, column_id BIGINT, begin_snapshot BIGINT,
      |  end_snapshot BIGINT, tag_key VARCHAR(256), tag_value VARCHAR(4096))""",
    // GRAFT EXTENSION COLUMNS (not in the reference DuckLake layout,
    // which ends at mapping_id — reference ducklake_metadata_manager's
    // data-file DDL): row_group_count (v1.1 footer pass), has_row_ids
    // (materialized-rowid flag) and written_sorted ("file is physically
    // in sort-spec order", gates the SPJ ordering report). All three are
    // nullable-or-defaulted ADDITIVE columns healed by idempotent ALTERs
    // on attach (migrate below), so a reference-written catalog attaches
    // cleanly here and a graft-written catalog keeps working in an
    // engine that ignores the extra columns — which is why they ride
    // within the same FormatVersion instead of bumping it.
    """CREATE TABLE ducklake_data_file (
      |  data_file_id BIGINT NOT NULL PRIMARY KEY, table_id BIGINT,
      |  begin_snapshot BIGINT, end_snapshot BIGINT, file_order BIGINT,
      |  path VARCHAR(4096), path_is_relative BOOLEAN,
      |  file_format VARCHAR(32), record_count BIGINT,
      |  file_size_bytes BIGINT, footer_size BIGINT, row_id_start BIGINT,
      |  partition_id BIGINT, encryption_key VARCHAR(256),
      |  partial_max BIGINT, mapping_id BIGINT,
      |  row_group_count BIGINT, has_row_ids BOOLEAN DEFAULT false,
      |  written_sorted BOOLEAN DEFAULT false)""",
    """CREATE TABLE ducklake_file_column_stats (
      |  data_file_id BIGINT NOT NULL, table_id BIGINT, column_id BIGINT,
      |  column_size_bytes BIGINT, value_count BIGINT, null_count BIGINT,
      |  min_value VARCHAR(1024), max_value VARCHAR(1024),
      |  min_numeric DOUBLE, max_numeric DOUBLE,
      |  contains_nan BOOLEAN, extra_stats VARCHAR(2048))""",
    """CREATE TABLE ducklake_file_variant_stats (
      |  data_file_id BIGINT NOT NULL, table_id BIGINT, column_id BIGINT,
      |  variant_path VARCHAR(1024), shredded_type VARCHAR(1024),
      |  column_size_bytes BIGINT, value_count BIGINT, null_count BIGINT,
      |  min_value VARCHAR(1024), max_value VARCHAR(1024),
      |  contains_nan BOOLEAN, extra_stats VARCHAR(2048),
      |  min_numeric DOUBLE, max_numeric DOUBLE)""",
    """CREATE TABLE ducklake_delete_file (
      |  delete_file_id BIGINT NOT NULL PRIMARY KEY, table_id BIGINT,
      |  begin_snapshot BIGINT, end_snapshot BIGINT, data_file_id BIGINT,
      |  path VARCHAR(4096), path_is_relative BOOLEAN,
      |  file_format VARCHAR(32), delete_count BIGINT,
      |  file_size_bytes BIGINT, footer_size BIGINT,
      |  encryption_key VARCHAR(256), partial_max BIGINT,
      |  row_group_count BIGINT)""",
    """CREATE TABLE ducklake_column (
      |  column_id BIGINT NOT NULL, begin_snapshot BIGINT,
      |  end_snapshot BIGINT, table_id BIGINT, column_order BIGINT,
      |  column_name VARCHAR(256), column_type VARCHAR(1024),
      |  initial_default VARCHAR(1024), default_value VARCHAR(1024),
      |  nulls_allowed BOOLEAN, parent_column BIGINT,
      |  default_value_type VARCHAR(64), default_value_dialect VARCHAR(64))""",
    """CREATE TABLE ducklake_table_stats (
      |  table_id BIGINT NOT NULL PRIMARY KEY, record_count BIGINT,
      |  next_row_id BIGINT, file_size_bytes BIGINT)""",
    """CREATE TABLE ducklake_table_column_stats (
      |  table_id BIGINT NOT NULL, column_id BIGINT NOT NULL,
      |  contains_null BOOLEAN, contains_nan BOOLEAN,
      |  min_value VARCHAR(1024), max_value VARCHAR(1024),
      |  extra_stats VARCHAR(2048))""",
    """CREATE TABLE ducklake_partition_info (
      |  partition_id BIGINT NOT NULL, table_id BIGINT,
      |  begin_snapshot BIGINT, end_snapshot BIGINT)""",
    """CREATE TABLE ducklake_partition_column (
      |  partition_id BIGINT NOT NULL, table_id BIGINT, partition_key_index BIGINT,
      |  column_id BIGINT, transform VARCHAR(64))""",
    """CREATE TABLE ducklake_file_partition_value (
      |  data_file_id BIGINT NOT NULL, table_id BIGINT,
      |  partition_key_index BIGINT, partition_value VARCHAR(1024))""",
    """CREATE TABLE ducklake_files_scheduled_for_deletion (
      |  data_file_id BIGINT, path VARCHAR(4096), path_is_relative BOOLEAN,
      |  schedule_start BIGINT)""",
    """CREATE TABLE ducklake_inlined_data_tables (
      |  table_id BIGINT, table_name VARCHAR(256),
      |  schema_version BIGINT)""",
    """CREATE TABLE ducklake_column_mapping (
      |  mapping_id BIGINT NOT NULL, table_id BIGINT, type VARCHAR(64))""",
    """CREATE TABLE ducklake_name_mapping (
      |  mapping_id BIGINT NOT NULL, column_id BIGINT,
      |  source_name VARCHAR(256), target_field_id BIGINT, parent_column BIGINT,
      |  is_partition BOOLEAN)""",
    """CREATE TABLE ducklake_schema_versions (
      |  begin_snapshot BIGINT, schema_version BIGINT, table_id BIGINT)""",
    """CREATE TABLE ducklake_macro (
      |  macro_id BIGINT NOT NULL, schema_id BIGINT, macro_name VARCHAR(256),
      |  begin_snapshot BIGINT, end_snapshot BIGINT, is_table_macro BOOLEAN)""",
    """CREATE TABLE ducklake_macro_impl (
      |  macro_id BIGINT NOT NULL, macro_impl_id BIGINT NOT NULL,
      |  dialect VARCHAR(64), body VARCHAR(32000), macro_type VARCHAR(16))""",
    """CREATE TABLE ducklake_macro_parameters (
      |  macro_id BIGINT NOT NULL, macro_impl_id BIGINT NOT NULL,
      |  parameter_index BIGINT, parameter_name VARCHAR(256),
      |  parameter_type VARCHAR(1024), default_value VARCHAR(1024),
      |  default_type VARCHAR(64))""",
    """CREATE TABLE ducklake_sort_info (
      |  sort_info_id BIGINT NOT NULL, table_id BIGINT,
      |  begin_snapshot BIGINT, end_snapshot BIGINT)""",
    """CREATE TABLE ducklake_sort_expression (
      |  sort_info_id BIGINT NOT NULL, table_id BIGINT, sort_key_index BIGINT,
      |  expression VARCHAR(4096), dialect VARCHAR(64),
      |  sort_order VARCHAR(16), null_order VARCHAR(16))""",
    """CREATE TABLE ducklake_view_column_tag (
      |  view_id BIGINT, column_name VARCHAR(256), begin_snapshot BIGINT,
      |  end_snapshot BIGINT, tag_key VARCHAR(256), tag_value VARCHAR(4096))"""
  ).map(_.stripMargin)

  /** Create the schema + snapshot 0 if this is a fresh catalog DB;
    * upgrade an existing catalog written by an older metadata version in
    * place (reference v1.0→v1.1 migration,
    * ducklake_metadata_manager_v1_1.cpp:10-17 + test/sql/migration/). */
  def initialize(dataPath: String): Unit = withConn { c =>
    // METADATA_SCHEMA: many lakes share one metadata store, each under
    // its own schema (reference transaction_schema.test). Create it if
    // missing; "already exists" races are benign.
    metaSchema.foreach { s =>
      if (!Using.resource(c.getMetaData.getSchemas(null, s.toUpperCase))(
          _.next()))
        try Using.resource(c.createStatement())(
          _.executeUpdate(s"CREATE SCHEMA $s"))
        catch { case _: SQLException => () }
    }
    val fresh = !tableExists(c, "DUCKLAKE_SNAPSHOT")
    if (!fresh) migrate(c)
    else {
      createTableStatements.foreach { ddl =>
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(ddl))))
      }
      exec(c,
        s"INSERT INTO ducklake_metadata (mkey, mvalue) VALUES ('version','$FormatVersion')")
      exec(c,
        "INSERT INTO ducklake_metadata (mkey, mvalue) VALUES ('data_path', ?)",
        dataPath)
      exec(c,
        """INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time,
          |schema_version, next_catalog_id, next_file_id)
          |VALUES (0, ?, 0, 1, 1)""".stripMargin,
        Long.box(System.currentTimeMillis()))
      exec(c,
        """INSERT INTO ducklake_schema (schema_id, schema_uuid, begin_snapshot,
          |end_snapshot, schema_name, path, path_is_relative)
          |VALUES (0, ?, 0, NULL, 'main', '', true)""".stripMargin,
        java.util.UUID.randomUUID().toString)
      exec(c,
        "INSERT INTO ducklake_schema_versions (begin_snapshot, schema_version) VALUES (0, 0)")
      // snapshot 0 reports the bootstrap schema like the reference
      // (ducklake_snapshots.test: `{schemas_created=[main]}`)
      exec(c,
        """INSERT INTO ducklake_snapshot_changes (snapshot_id, changes_made,
          |author, commit_message, commit_extra_info)
          |VALUES (0, ?, NULL, NULL, NULL)""".stripMargin,
        SnapshotChanges(createdTables = Seq("schema:main")).summary)
    }
  }

  private def schemaPattern: String =
    metaSchema.map(_.toUpperCase).orNull

  private def tableExists(c: Connection, name: String): Boolean =
    Using.resource(
      c.getMetaData.getTables(null, schemaPattern, name, null))(_.next())

  private def columnExists(c: Connection, table: String,
      column: String): Boolean =
    Using.resource(
      c.getMetaData.getColumns(null, schemaPattern, table, column))(_.next())

  /** In-place upgrade of a catalog written by an older format version
    * (reference migration discipline: attach old catalog → migrate →
    * bump `version`). Each step is idempotent; the whole upgrade runs in
    * one catalog transaction. */
  private def migrate(c: Connection): Unit = {
    val current = query(c,
      "SELECT mvalue FROM ducklake_metadata WHERE mkey = 'version' AND scope IS NULL")(
      _.getString(1)).headOption.getOrElse("0.3")
    // written_sorted: per-file "physically in sort-spec order" flag; old
    // catalogs conservatively read false (ordering never falsely
    // reported). Checked BEFORE the version early-return: the column was
    // added within a dev version, so same-version catalogs heal too.
    if (!columnExists(c, "DUCKLAKE_DATA_FILE", "WRITTEN_SORTED"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        "ALTER TABLE ducklake_data_file ADD COLUMN written_sorted BOOLEAN DEFAULT false"))))
    if (current == FormatVersion) return
    // 0.3 → 0.4: materialized-rowid flag on data files; shredded
    // variant-path statistics table
    if (!columnExists(c, "DUCKLAKE_DATA_FILE", "HAS_ROW_IDS"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        "ALTER TABLE ducklake_data_file ADD COLUMN has_row_ids BOOLEAN DEFAULT false"))))
    if (!tableExists(c, "DUCKLAKE_FILE_VARIANT_STATS"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        """CREATE TABLE ducklake_file_variant_stats (
          |  data_file_id BIGINT NOT NULL, table_id BIGINT, column_id BIGINT,
          |  variant_path VARCHAR(1024), null_count BIGINT,
          |  min_value VARCHAR(1024), max_value VARCHAR(1024),
          |  min_numeric DOUBLE, max_numeric DOUBLE)""".stripMargin))))
    // 0.4 → 0.5: serialized extra stats (geometry extent JSON) on file
    // and cumulative column stats (reference v1.1 extra_stats)
    for (t <- Seq("DUCKLAKE_FILE_COLUMN_STATS", "DUCKLAKE_TABLE_COLUMN_STATS"))
      if (!columnExists(c, t, "EXTRA_STATS"))
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
          s"ALTER TABLE ${t.toLowerCase} ADD COLUMN extra_stats VARCHAR(2048)"))))
    // 0.3 → 0.4 (reference): partial_max on both file tables
    for (t <- Seq("DUCKLAKE_DATA_FILE", "DUCKLAKE_DELETE_FILE"))
      if (!columnExists(c, t, "PARTIAL_MAX"))
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
          s"ALTER TABLE ${t.toLowerCase} ADD COLUMN partial_max BIGINT"))))
    for (col <- Seq(("DEFAULT_VALUE_TYPE", "default_value_type VARCHAR(64)"),
        ("DEFAULT_VALUE_DIALECT", "default_value_dialect VARCHAR(64)")))
      if (!columnExists(c, "DUCKLAKE_COLUMN", col._1))
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
          s"ALTER TABLE ducklake_column ADD COLUMN ${col._2}"))))
    for (col <- Seq(("SHREDDED_TYPE", "shredded_type VARCHAR(1024)"),
        ("COLUMN_SIZE_BYTES", "column_size_bytes BIGINT"),
        ("VALUE_COUNT", "value_count BIGINT"),
        ("CONTAINS_NAN", "contains_nan BOOLEAN"),
        ("EXTRA_STATS", "extra_stats VARCHAR(2048)")))
      if (!columnExists(c, "DUCKLAKE_FILE_VARIANT_STATS", col._1))
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
          s"ALTER TABLE ducklake_file_variant_stats ADD COLUMN ${col._2}"))))
    // 0.4+ per-table schema-version rows (reference migration adds
    // table_id to ducklake_schema_versions)
    if (!columnExists(c, "DUCKLAKE_SCHEMA_VERSIONS", "TABLE_ID"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        "ALTER TABLE ducklake_schema_versions ADD COLUMN table_id BIGINT"))))
    // 1.0 → 1.1-dev1 (reference MigrateV10): per-file row-group counts on
    // both file tables + view column tags
    for (t <- Seq("DUCKLAKE_DATA_FILE", "DUCKLAKE_DELETE_FILE"))
      if (!columnExists(c, t, "ROW_GROUP_COUNT"))
        Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
          s"ALTER TABLE ${t.toLowerCase} ADD COLUMN row_group_count BIGINT"))))
    if (!tableExists(c, "DUCKLAKE_VIEW_COLUMN_TAG"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        """CREATE TABLE ducklake_view_column_tag (
          |  view_id BIGINT, column_name VARCHAR(256),
          |  begin_snapshot BIGINT, end_snapshot BIGINT,
          |  tag_key VARCHAR(256), tag_value VARCHAR(4096))""".stripMargin))))
    // 0.5 catalogs created the table with a column_id column (never
    // written to); the v1.1 shape keys by column NAME — add it
    else if (!columnExists(c, "DUCKLAKE_VIEW_COLUMN_TAG", "COLUMN_NAME"))
      Using.resource(c.createStatement())(_.executeUpdate(dialect.ddl(qualify(
        "ALTER TABLE ducklake_view_column_tag ADD COLUMN column_name VARCHAR(256)"))))
    // pre-0.4 catalogs recorded NO flag for compaction/flush-written files
    // that embed materialized rowid columns — mark the catalog for a
    // one-time footer-informed backfill (performed by Lake.attach, which
    // can read parquet); until then reads could mis-derive rowids
    exec(c,
      "DELETE FROM ducklake_metadata WHERE mkey = 'needs_rowid_backfill'")
    exec(c,
      "INSERT INTO ducklake_metadata (mkey, mvalue) VALUES ('needs_rowid_backfill','true')")
    exec(c,
      "UPDATE ducklake_metadata SET mvalue = ? WHERE mkey = 'version' AND scope IS NULL",
      FormatVersion)
  }

  /** all data-file rows (live and historical — time travel reads ended
    * files too), for the migration backfill */
  def allDataFiles(): Seq[(Long, String)] = withConn { c =>
    query(c, "SELECT data_file_id, path FROM ducklake_data_file")(rs =>
      (rs.getLong(1), rs.getString(2)))
  }

  def setFilesHaveRowIds(fileIds: Seq[Long]): Unit =
    if (fileIds.nonEmpty) withConn { c =>
      fileIds.grouped(500).foreach { g =>
        exec(c,
          s"UPDATE ducklake_data_file SET has_row_ids = true WHERE data_file_id IN (${g.mkString(",")})")
      }
    }

  def pendingRowIdBackfill: Boolean =
    getOption("needs_rowid_backfill").contains("true")

  def clearRowIdBackfill(): Unit = withConn { c =>
    exec(c,
      "DELETE FROM ducklake_metadata WHERE mkey = 'needs_rowid_backfill'")
  }

  def dataPath: String = withConn { c =>
    query(c,
      "SELECT mvalue FROM ducklake_metadata WHERE mkey = 'data_path'")(
      _.getString(1)).head
  }

  // ------------------------------------------------------------- snapshots

  /** READ_ONLY attach: every commit is rejected at the single commit
    * choke point (reference ducklake_read_only.test). */
  @volatile var readOnly: Boolean = false

  /** SNAPSHOT_VERSION attach: reads resolve at this pinned snapshot and
    * the catalog is read-only (reference attach_at_snapshot.test). */
  @volatile private var pinnedSnapshot: Option[Snapshot] = None

  def pinSnapshot(version: Long): Unit = {
    val s = snapshotByVersion(version).getOrElse(
      throw new IllegalArgumentException(
        s"No snapshot found at version $version"))
    pinnedSnapshot = Some(s)
    readOnly = true
  }

  def currentSnapshot(): Snapshot =
    pinnedSnapshot.getOrElse(withConn(currentSnapshot(_)))

  protected def currentSnapshot(c: Connection): Snapshot =
    pinnedSnapshot.getOrElse(query(c,
      s"""SELECT snapshot_id, snapshot_time, schema_version, next_catalog_id,
        |next_file_id FROM ducklake_snapshot
        |ORDER BY snapshot_id DESC ${dialect.limit1}""".stripMargin)(
      readSnapshot).head)

  private def readSnapshot(rs: ResultSet): Snapshot =
    Snapshot(rs.getLong("snapshot_id"), rs.getLong("snapshot_time"),
      rs.getLong("schema_version"), rs.getLong("next_catalog_id"),
      rs.getLong("next_file_id"))

  def snapshotByVersion(version: Long): Option[Snapshot] = withConn { c =>
    query(c,
      """SELECT snapshot_id, snapshot_time, schema_version, next_catalog_id,
        |next_file_id FROM ducklake_snapshot WHERE snapshot_id = ?""".stripMargin,
      Long.box(version))(readSnapshot).headOption
  }

  /** Latest snapshot with snapshot_time <= ts (reference
    * src/storage/ducklake_transaction.cpp:1613-1645 AT TIMESTAMP bound). */
  def snapshotAtTime(tsMs: Long): Option[Snapshot] = withConn { c =>
    query(c,
      s"""SELECT snapshot_id, snapshot_time, schema_version, next_catalog_id,
        |next_file_id FROM ducklake_snapshot WHERE snapshot_time <= ?
        |ORDER BY snapshot_id DESC ${dialect.limit1}""".stripMargin,
      Long.box(tsMs))(readSnapshot).headOption
  }

  def allSnapshots(): Seq[(Snapshot, Option[String], Option[String],
      Option[String], Option[String])] =
    withConn { c =>
      query(c,
        """SELECT s.snapshot_id, s.snapshot_time, s.schema_version,
          |s.next_catalog_id, s.next_file_id, ch.changes_made, ch.author,
          |ch.commit_message, ch.commit_extra_info
          |FROM ducklake_snapshot s
          |LEFT OUTER JOIN ducklake_snapshot_changes ch
          |  ON s.snapshot_id = ch.snapshot_id
          |ORDER BY s.snapshot_id""".stripMargin) { rs =>
        (readSnapshot(rs), optString(rs, "changes_made"),
          optString(rs, "author"), optString(rs, "commit_message"),
          optString(rs, "commit_extra_info"))
      }
    }

  // ---------------------------------------------------- optimistic commits

  /** Mutable id allocator handed to commit bodies. */
  final class TxnIds(var nextCatalogId: Long, var nextFileId: Long) {
    def newCatalogId(): Long = { val v = nextCatalogId; nextCatalogId += 1; v }
    def newFileId(): Long = { val v = nextFileId; nextFileId += 1; v }
  }

  /** Commit-retry knobs, settings-driven like the reference
    * (ducklake_max_retry_count / retry_wait_ms / retry_backoff); option
    * reads fall back to defaults if the catalog is mid-bootstrap. */
  def maxRetries: Int =
    try getOption("max_retry_count").flatMap(_.toIntOption).getOrElse(10)
    catch { case _: Throwable => 10 }
  def retryWaitMs: Long =
    try getOption("retry_wait_ms").flatMap(_.toLongOption).getOrElse(100L)
    catch { case _: Throwable => 100L }
  def retryBackoff: Double =
    try getOption("retry_backoff").flatMap(_.toDoubleOption).getOrElse(1.5)
    catch { case _: Throwable => 1.5 }

  /** one-shot author/message/extra_info for the NEXT commit (reference
    * ducklake_set_commit_message.cpp; extra_info parameter and the
    * commit_extra_info column per test/sql/audit/test_base_audit.test).
    * Each call replaces the previous one (last set wins); a ROLLBACK
    * discards it ([[clearPendingCommitMessage]]). */
  @volatile private var pendingCommitMessage:
    Option[(Option[String], Option[String], Option[String])] = None
  def setCommitMessage(author: String, message: String,
      extraInfo: Option[String] = None): Unit =
    pendingCommitMessage = Some((Option(author), Option(message), extraInfo))
  def clearPendingCommitMessage(): Unit = pendingCommitMessage = None

  /** Run `body` against a fresh snapshot and commit it as snapshot
    * base+1. On a lost race (PK violation on snapshot_id) re-checks
    * conflicts via `conflictCheck(committedSince)` and retries.
    * `schemaChange` bumps schema_version. */
  def commitSnapshot(
      changes: SnapshotChanges,
      schemaChange: Boolean = false,
      conflictCheck: (Connection, Long) => Unit = (_, _) => ())(
      body: (Connection, Snapshot, TxnIds) => Unit): Snapshot = {
    if (readOnly) throw new UnsupportedOperationException(
      "Cannot write to attached database: the lake is attached in " +
        "read-only mode")
    var hadPending = false
    val changes0 = pendingCommitMessage match {
      case Some((author, msg, extra)) if changes.commitMessage.isEmpty =>
        pendingCommitMessage = None
        hadPending = true
        changes.copy(author = author, commitMessage = msg, extraInfo = extra)
      case _ => changes
    }
    // require_commit_message option (reference ducklake_set_option.cpp):
    // data-changing snapshots must carry a message (an explicit
    // set_commit_message with NULL fields also satisfies it — the
    // reference checks that commit info was *provided*, not non-NULL)
    if (!hadPending && changes0.commitMessage.isEmpty &&
      (changes0.insertedIntoTables.nonEmpty ||
        changes0.deletedFromTables.nonEmpty) &&
      getOption("require_commit_message").exists(_.equalsIgnoreCase("true")))
      throw new IllegalStateException(
        "Commit Information for the snapshot is required but has not " +
          "been provided.")
    var attempt = 0
    var wait = -1L // settings read lazily, only when a conflict occurs
    while (true) {
      val c = connect()
      try {
        val base = currentSnapshot(c)
        conflictCheck(c, base.snapshotId)
        val ids = new TxnIds(base.nextCatalogId, base.nextFileId)
        val newSnap = Snapshot(
          base.snapshotId + 1,
          System.currentTimeMillis(),
          if (schemaChange) base.schemaVersion + 1 else base.schemaVersion,
          base.nextCatalogId, base.nextFileId)
        // network catalogs: stage the commit's writes client-side and
        // ship write-set + snapshot rows + COMMIT as one script call
        // (reference server-side commit); embedded catalogs run live
        HttpCatalogClient.beginStaging(c)
        body(c, newSnap, ids)
        exec(c,
          """INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time,
            |schema_version, next_catalog_id, next_file_id)
            |VALUES (?, ?, ?, ?, ?)""".stripMargin,
          Long.box(newSnap.snapshotId), Long.box(newSnap.snapshotTimeMs),
          Long.box(newSnap.schemaVersion), Long.box(ids.nextCatalogId),
          Long.box(ids.nextFileId))
        exec(c,
          """INSERT INTO ducklake_snapshot_changes (snapshot_id, changes_made,
            |author, commit_message, commit_extra_info)
            |VALUES (?, ?, ?, ?, ?)""".stripMargin,
          Long.box(newSnap.snapshotId), changes0.summary,
          changes0.author.orNull, changes0.commitMessage.orNull,
          changes0.extraInfo.orNull)
        if (schemaChange) {
          // per-table rows when the changed tables are known (reference
          // 0.4+ per-table schema-version tracking); a global row (NULL
          // table_id) otherwise — the reference migration kept exactly
          // this dual shape
          val changedIds = changes0.alteredTables.distinct
          if (changedIds.nonEmpty) changedIds.foreach { tid =>
            exec(c,
              "INSERT INTO ducklake_schema_versions (begin_snapshot, schema_version, table_id) VALUES (?, ?, ?)",
              Long.box(newSnap.snapshotId),
              Long.box(newSnap.schemaVersion), Long.box(tid))
          }
          else exec(c,
            "INSERT INTO ducklake_schema_versions (begin_snapshot, schema_version) VALUES (?, ?)",
            Long.box(newSnap.snapshotId),
            Long.box(newSnap.schemaVersion))
        }
        HttpCatalogClient.flushStaged(c, commit = true)
        c.close()
        return newSnap.copy(
          nextCatalogId = ids.nextCatalogId, nextFileId = ids.nextFileId)
      } catch {
        case e: SQLException if isConflict(e) && attempt < maxRetries =>
          HttpCatalogClient.abortStaging(c)
          try c.rollback() catch { case _: Throwable => () }
          c.close()
          attempt += 1
          if (wait < 0) wait = retryWaitMs
          Thread.sleep(wait)
          wait = (wait * retryBackoff).toLong
        case e: Throwable =>
          HttpCatalogClient.abortStaging(c)
          try c.rollback() catch { case _: Throwable => () }
          c.close()
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** PK/unique violation or serialization failure → retryable. */
  private def isConflict(e: SQLException): Boolean =
    dialect.isConflictState(Option(e.getSQLState).getOrElse(""))

  // --------------------------------------------------------------- schemas

  def schemaByName(name: String): Option[SchemaInfo] = withConn { c =>
    query(c,
      """SELECT schema_id, schema_uuid, schema_name FROM ducklake_schema
        |WHERE schema_name = ? AND end_snapshot IS NULL""".stripMargin, name)(
      rs => SchemaInfo(rs.getLong(1), rs.getString(2), rs.getString(3))).headOption
  }

  def createSchema(name: String): SchemaInfo = {
    var created: SchemaInfo = null
    commitSnapshot(SnapshotChanges(createdTables = Seq(s"schema:$name")),
      schemaChange = true,
      conflictCheck = (c, _) => {
        // same-name concurrent schema creation conflicts (reference
        // transaction_conflicts.test schema section)
        val live = query(c,
          """SELECT COUNT(*) FROM ducklake_schema
            |WHERE schema_name = ? AND end_snapshot IS NULL""".stripMargin,
          name)(_.getLong(1)).head
        if (live > 0) throw new CommitConflictException(
          s"schema $name already exists")
      }) { (c, snap, ids) =>
      val id = ids.newCatalogId()
      val uuid = java.util.UUID.randomUUID().toString
      exec(c,
        """INSERT INTO ducklake_schema (schema_id, schema_uuid, begin_snapshot,
          |end_snapshot, schema_name, path, path_is_relative)
          |VALUES (?, ?, ?, NULL, ?, '', true)""".stripMargin,
        Long.box(id), uuid, Long.box(snap.snapshotId), name)
      created = SchemaInfo(id, uuid, name)
    }
    created
  }

  def listSchemas(): Seq[SchemaInfo] = withConn { c =>
    query(c,
      """SELECT schema_id, schema_uuid, schema_name FROM ducklake_schema
        |WHERE end_snapshot IS NULL ORDER BY schema_id""".stripMargin)(
      rs => SchemaInfo(rs.getLong(1), rs.getString(2), rs.getString(3)))
  }

  /** DROP SCHEMA: must be empty; "main" is permanent. */
  def dropSchema(name: String): Unit = {
    require(name != "main", "cannot drop schema main")
    commitSnapshot(SnapshotChanges(droppedTables = Seq(s"schema:$name")),
      schemaChange = true) { (c, snap, _) =>
      val live = query(c,
        """SELECT COUNT(*) FROM ducklake_table t
          |JOIN ducklake_schema s ON t.schema_id = s.schema_id
          |WHERE s.schema_name = ? AND t.end_snapshot IS NULL""".stripMargin,
        name)(_.getLong(1)).head
      if (live > 0) throw new IllegalArgumentException(
        s"schema $name is not empty")
      // live VIEWS block the drop like tables (reference
      // drop_schema_after_drop_dependents.test)
      val liveViews = query(c,
        """SELECT COUNT(*) FROM ducklake_view v
          |JOIN ducklake_schema s ON v.schema_id = s.schema_id
          |WHERE s.schema_name = ? AND v.end_snapshot IS NULL""".stripMargin,
        name)(_.getLong(1)).head
      if (liveViews > 0) throw new IllegalArgumentException(
        s"schema $name is not empty (live views)")
      // macros qualified into this schema block the drop, like tables
      // (test_schema_dependency.test / test_macro_transactions.test: the
      // reference requires CASCADE, which we do not implement — drop the
      // macros first)
      val liveMacros = query(c,
        """SELECT COUNT(*) FROM ducklake_macro
          |WHERE macro_name LIKE ? AND end_snapshot IS NULL""".stripMargin,
        s"$name.%")(_.getLong(1)).head
      if (liveMacros > 0) throw new IllegalArgumentException(
        s"schema $name holds macros; drop them first " +
          "(DROP SCHEMA ... CASCADE is not supported)")
      // existence pre-check (not the UPDATE's affected-count): staged
      // server-side commits defer writes, so update counts are unknown
      val schemaLive = qLong(c,
        """SELECT COUNT(*) FROM ducklake_schema
          |WHERE schema_name = ? AND end_snapshot IS NULL""".stripMargin,
        name).getOrElse(0L)
      if (schemaLive == 0)
        throw new IllegalArgumentException(s"no schema $name")
      exec(c,
        "UPDATE ducklake_schema SET end_snapshot = ? WHERE schema_name = ? AND end_snapshot IS NULL",
        Long.box(snap.snapshotId), name): Unit
    }
  }

  // ---------------------------------------------------------------- tables

  def tableByName(name: String, snapshotId: Long,
      schema: String = "main"): Option[TableInfo] = withConn { c =>
    tableByName(c, name, snapshotId, schema)
  }

  private def tableByName(c: Connection, name: String, snapshotId: Long,
      schema: String): Option[TableInfo] =
    query(c,
      """SELECT t.table_id, t.table_uuid, t.schema_id, t.table_name, t.path
        |FROM ducklake_table t JOIN ducklake_schema s ON t.schema_id = s.schema_id
        |WHERE t.table_name = ? AND s.schema_name = ?
        |  AND t.begin_snapshot <= ?
        |  AND (t.end_snapshot IS NULL OR t.end_snapshot > ?)""".stripMargin,
      name, schema, Long.box(snapshotId), Long.box(snapshotId))(
      rs => TableInfo(rs.getLong(1), rs.getString(2), rs.getLong(3),
        rs.getString(4), rs.getString(5))).headOption

  def listTables(snapshotId: Long, schema: String = "main"): Seq[TableInfo] =
    withConn { c =>
      query(c,
        """SELECT t.table_id, t.table_uuid, t.schema_id, t.table_name, t.path
          |FROM ducklake_table t JOIN ducklake_schema s ON t.schema_id = s.schema_id
          |WHERE s.schema_name = ? AND t.begin_snapshot <= ?
          |  AND (t.end_snapshot IS NULL OR t.end_snapshot > ?)
          |ORDER BY t.table_id""".stripMargin,
        schema, Long.box(snapshotId), Long.box(snapshotId))(
        rs => TableInfo(rs.getLong(1), rs.getString(2), rs.getLong(3),
          rs.getString(4), rs.getString(5)))
    }

  def columnsOf(tableId: Long, snapshotId: Long): Seq[ColumnInfo] =
    withConn { c => columnsOf(c, tableId, snapshotId) }

  private def columnsOf(c: Connection, tableId: Long,
      snapshotId: Long): Seq[ColumnInfo] =
    query(c,
      """SELECT column_id, column_order, column_name, column_type,
        |nulls_allowed, parent_column, default_value, initial_default
        |FROM ducklake_column
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)
        |ORDER BY column_order""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId)) { rs =>
      ColumnInfo(rs.getLong("column_id"), rs.getLong("column_order"),
        rs.getString("column_name"), rs.getString("column_type"),
        rs.getBoolean("nulls_allowed"), optLong(rs, "parent_column"),
        optString(rs, "default_value"), optString(rs, "initial_default"))
    }

  /** (begin_snapshot, schema_version) history, ascending — maps a data
    * file's begin_snapshot to the schema epoch it was written under
    * (reference ducklake_schema_versions). */
  def schemaVersions(): Seq[(Long, Long)] = withConn { c =>
    query(c,
      """SELECT begin_snapshot, schema_version FROM ducklake_schema_versions
        |ORDER BY begin_snapshot""".stripMargin)(
      rs => (rs.getLong(1), rs.getLong(2)))
  }

  def createTable(name: String, columns: Seq[(String, String, Boolean)],
      schema: String = "main", ifNotExists: Boolean = false): TableInfo = {
    dialect.checkIdentifier(name) // backend limit (PG: 63, reference
    // postgres_metadata_manager identifier handling)
    var created: TableInfo = null
    commitSnapshot(SnapshotChanges(createdTables = Seq(s"$schema.$name")),
      schemaChange = true,
      conflictCheck = (c, _) => {
        val cur = currentSnapshot(c)
        if (tableByName(c, name, cur.snapshotId, schema).isDefined) {
          if (ifNotExists) return tableByName(name, cur.snapshotId, schema).get
          throw new CommitConflictException(s"table $name already exists")
        }
        // reference ducklake_view_table_conflict.test: a live VIEW of the
        // same name blocks table creation
        if (query(c,
          """SELECT 1 FROM ducklake_view v
            |JOIN ducklake_schema s ON v.schema_id = s.schema_id
            |WHERE v.view_name = ? AND s.schema_name = ?
            |  AND v.end_snapshot IS NULL""".stripMargin,
          name, schema)(_.getInt(1)).nonEmpty)
          throw new CommitConflictException(
            s"cannot create table $name: a view with this name exists")
      }) { (c, snap, ids) =>
      val schemaId = query(c,
        "SELECT schema_id FROM ducklake_schema WHERE schema_name = ? AND end_snapshot IS NULL",
        schema)(_.getLong(1)).headOption
        .getOrElse(throw new IllegalArgumentException(s"no schema $schema"))
      val tid = ids.newCatalogId()
      val uuid = java.util.UUID.randomUUID().toString
      exec(c,
        """INSERT INTO ducklake_table (table_id, table_uuid, begin_snapshot,
          |end_snapshot, schema_id, table_name, path, path_is_relative)
          |VALUES (?, ?, ?, NULL, ?, ?, ?, true)""".stripMargin,
        Long.box(tid), uuid, Long.box(snap.snapshotId), Long.box(schemaId),
        name, name)
      columns.zipWithIndex.foreach { case ((cname, ctype, nullable), i) =>
        insertColumnTree(c, ids, snap.snapshotId, tid, i.toLong, cname, ctype,
          nullable, default = None, initial = None, parent = None)
      }
      exec(c,
        """INSERT INTO ducklake_table_stats (table_id, record_count,
          |next_row_id, file_size_bytes) VALUES (?, 0, 0, 0)""".stripMargin,
        Long.box(tid))
      created = TableInfo(tid, uuid, schemaId, name, name)
    }
    created
  }

  def dropTable(name: String, schema: String = "main"): Unit =
    commitSnapshot(SnapshotChanges(droppedTables = Seq(s"$schema.$name")),
      schemaChange = true) { (c, snap, _) =>
      val t = tableByName(c, name, snap.snapshotId - 1, schema)
        .getOrElse(throw new IllegalArgumentException(s"no table $name"))
      exec(c,
        "UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Long.box(snap.snapshotId), Long.box(t.tableId))
    }

  def renameTable(oldName: String, newName: String,
      schema: String = "main"): Unit =
    commitSnapshot(SnapshotChanges(
      alteredTables = Nil, createdTables = Nil,
      commitMessage = Some(s"rename $oldName to $newName")),
      schemaChange = true) { (c, snap, _) =>
      val t = tableByName(c, oldName, snap.snapshotId - 1, schema)
        .getOrElse(throw new IllegalArgumentException(s"no table $oldName"))
      // close the old row, open a new one with the same table_id
      exec(c,
        "UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
        Long.box(snap.snapshotId), Long.box(t.tableId))
      exec(c,
        """INSERT INTO ducklake_table (table_id, table_uuid, begin_snapshot,
          |end_snapshot, schema_id, table_name, path, path_is_relative)
          |VALUES (?, ?, ?, NULL, ?, ?, ?, true)""".stripMargin,
        Long.box(t.tableId), t.uuid, Long.box(snap.snapshotId),
        Long.box(t.schemaId), newName, t.path)
    }

  // --------------------------------------------------------------- appends

  /** Register written Parquet files + stats as a new snapshot; assigns
    * row_id_start values from table_stats.next_row_id (reference
    * ducklake_insert.cpp:119-242 sink semantics). */
  /** `setOptions` land in the SAME catalog transaction as the file
    * inserts (used by the streaming sink to make its batch marker atomic
    * with the append); `batchGuard=(key, id)` re-checks inside the commit
    * that no marker ≥ id was concurrently recorded and raises
    * [[DuplicateBatchException]] — so a replayed micro-batch can never
    * append twice even across writer crashes. */
  def appendFiles(tableId: Long, files: Seq[PendingDataFile],
      partitionId: Option[Long] = None,
      setOptions: Seq[(String, String)] = Nil,
      batchGuard: Option[(String, Long)] = None,
      endInlinedRowIds: Seq[Long] = Nil): Snapshot =
    commitSnapshot(SnapshotChanges(insertedIntoTables = Seq(tableId),
      deletedFromTables =
        if (endInlinedRowIds.isEmpty) Nil else Seq(tableId)),
      conflictCheck = (c, _) => {
        val cur = currentSnapshot(c)
        val live = query(c,
          "SELECT COUNT(*) FROM ducklake_table WHERE table_id = ? AND (end_snapshot IS NULL OR end_snapshot > ?)",
          Long.box(tableId), Long.box(cur.snapshotId))(_.getLong(1)).head
        if (live == 0) throw new CommitConflictException(
          s"table $tableId was dropped concurrently")
        batchGuard.foreach { case (key, batchId) =>
          val last = query(c,
            "SELECT mvalue FROM ducklake_metadata WHERE mkey = ? AND scope IS NULL",
            key)(_.getString(1)).headOption.flatMap(v =>
            scala.util.Try(v.toLong).toOption).getOrElse(-1L)
          if (batchId <= last)
            throw new DuplicateBatchException(key, batchId)
        }
      }) { (c, snap, ids) =>
      insertFiles(c, snap, ids, tableId, files, partitionId)
      // inlined victims of the same statement (e.g. an UPDATE rewriting
      // inlined + file rows) end in THIS snapshot — one commit like the
      // reference, never a separate deletion snapshot
      if (endInlinedRowIds.nonEmpty)
        endInlinedRowsIn(c, snap, ids, tableId, endInlinedRowIds, Nil,
          isFlush = false, explicitRowIdStart = None)
      setOptions.foreach { case (k, v) =>
        exec(c,
          "DELETE FROM ducklake_metadata WHERE mkey = ? AND scope IS NULL", k)
        exec(c,
          "INSERT INTO ducklake_metadata (mkey, mvalue, scope, scope_id) VALUES (?, ?, NULL, NULL)",
          k, v)
      }
    }

  /** Shared file-insertion used by append / update / compaction bodies. */
  protected def insertFiles(c: Connection, snap: Snapshot, ids: TxnIds,
      tableId: Long, files: Seq[PendingDataFile],
      partitionId: Option[Long]): Unit = {
    var rowIdStart = qLong(c,
      "SELECT next_row_id FROM ducklake_table_stats WHERE table_id = ?",
      Long.box(tableId)).getOrElse(0L)
    var totalRows = 0L
    var totalBytes = 0L
    // staged-commit batching: accumulate every row of the commit, then one
    // executeBatch per catalog table (reference ducklake_staged_commit.cpp
    // emits the whole commit as one SQL batch)
    val fileRows = ArrayBuffer.empty[Seq[Any]]
    val statRows = ArrayBuffer.empty[Seq[Any]]
    val varRows = ArrayBuffer.empty[Seq[Any]]
    val partRows = ArrayBuffer.empty[Seq[Any]]
    files.zipWithIndex.foreach { case (f, order) =>
      val fid = ids.newFileId()
      fileRows += Seq(
        Long.box(fid), Long.box(tableId), Long.box(snap.snapshotId),
        Long.box(order.toLong), f.path, Long.box(f.recordCount),
        Long.box(f.fileSizeBytes), Long.box(rowIdStart),
        partitionId.map(Long.box).orNull, f.mappingId.map(Long.box).orNull,
        f.rowGroupCount.map(Long.box).orNull, Boolean.box(f.hasRowIds),
        Boolean.box(f.writtenSorted))
      f.columnStats.foreach(st =>
        statRows += colStatsArgs(fid, tableId, f.recordCount, st))
      f.variantStats.foreach(st =>
        varRows += variantStatsArgs(fid, tableId, f.recordCount, st))
      f.partitionValues.foreach { case (keyIndex, v) =>
        partRows += Seq(
          Long.box(fid), Long.box(tableId), Long.box(keyIndex), v)
      }
      rowIdStart += f.recordCount
      totalRows += f.recordCount
      totalBytes += f.fileSizeBytes
    }
    execBatch(c,
      """INSERT INTO ducklake_data_file (data_file_id, table_id,
        |begin_snapshot, end_snapshot, file_order, path, path_is_relative,
        |file_format, record_count, file_size_bytes, footer_size,
        |row_id_start, partition_id, mapping_id, row_group_count,
        |has_row_ids, written_sorted)
        |VALUES (?, ?, ?, NULL, ?, ?, true, 'parquet', ?, ?, NULL, ?, ?, ?, ?, ?, ?)""".stripMargin,
      fileRows.toSeq)
    execBatch(c, ColStatsSql, statRows.toSeq)
    execBatch(c, VariantStatsSql, varRows.toSeq)
    execBatch(c,
      """INSERT INTO ducklake_file_partition_value (data_file_id, table_id,
        |partition_key_index, partition_value) VALUES (?, ?, ?, ?)""".stripMargin,
      partRows.toSeq)
    exec(c,
      """UPDATE ducklake_table_stats SET record_count = record_count + ?,
        |next_row_id = ?, file_size_bytes = file_size_bytes + ?
        |WHERE table_id = ?""".stripMargin,
      Long.box(totalRows), Long.box(rowIdStart), Long.box(totalBytes),
      Long.box(tableId))
    mergeTableColumnStats(c, tableId, files.flatMap(_.columnStats))
  }

  /** Cumulative per-column table stats (reference
    * ducklake_table_column_stats, updated on every insert): contains_null/
    * contains_nan only widen; min/max merge numerically for numeric
    * columns, lexically otherwise. Conservative under deletes (a false
    * contains_null is definitive; true may be stale). */
  private def mergeTableColumnStats(c: Connection, tableId: Long,
      stats: Seq[FileColumnStats]): Unit =
    stats.groupBy(_.columnId).foreach { case (cid, ss) =>
      val existing = query(c,
        """SELECT contains_null, contains_nan, min_value, max_value,
          |extra_stats
          |FROM ducklake_table_column_stats
          |WHERE table_id = ? AND column_id = ?""".stripMargin,
        Long.box(tableId), Long.box(cid)) { rs =>
        (rs.getBoolean(1), rs.getBoolean(2),
          Option(rs.getString(3)), Option(rs.getString(4)),
          Option(rs.getString(5)))
      }.headOption
      val numeric = ss.exists(_.numeric)
      def lt(a: String, b: String): Boolean =
        if (numeric)
          scala.util.Try(a.toDouble < b.toDouble).getOrElse(a < b)
        else a < b
      def mergeMin(a: Option[String], b: Option[String]) = (a, b) match {
        case (Some(x), Some(y)) => Some(if (lt(x, y)) x else y)
        case _ => a.orElse(b)
      }
      def mergeMax(a: Option[String], b: Option[String]) = (a, b) match {
        case (Some(x), Some(y)) => Some(if (lt(x, y)) y else x)
        case _ => a.orElse(b)
      }
      val newMin = ss.map(_.minValue).reduce(mergeMin)
      val newMax = ss.map(_.maxValue).reduce(mergeMax)
      val nulls = ss.exists(_.nullCount > 0)
      val nans = ss.exists(_.nanCount > 0)
      // geo extents union across files (reference
      // DuckLakeColumnGeoStats::Merge)
      def mergeExtra(stats: Seq[Option[String]]): Option[String] = {
        val defined = stats.flatten
        if (defined.isEmpty) None
        else {
          val acc = graft.functions.GeoWkb.deserialize(defined.head)
          defined.tail.foreach(x =>
            acc.merge(graft.functions.GeoWkb.deserialize(x)))
          Some(graft.functions.GeoWkb.serialize(acc))
        }
      }
      val newExtra = mergeExtra(ss.map(_.extraStats))
      existing match {
        case Some((en, ea, emin, emax, eextra)) =>
          exec(c,
            """UPDATE ducklake_table_column_stats SET contains_null = ?,
              |contains_nan = ?, min_value = ?, max_value = ?,
              |extra_stats = ?
              |WHERE table_id = ? AND column_id = ?""".stripMargin,
            Boolean.box(en || nulls), Boolean.box(ea || nans),
            mergeMin(emin, newMin).orNull, mergeMax(emax, newMax).orNull,
            mergeExtra(Seq(eextra, newExtra)).orNull,
            Long.box(tableId), Long.box(cid))
        case None =>
          exec(c,
            """INSERT INTO ducklake_table_column_stats (table_id, column_id,
              |contains_null, contains_nan, min_value, max_value, extra_stats)
              |VALUES (?, ?, ?, ?, ?, ?, ?)""".stripMargin,
            Long.box(tableId), Long.box(cid), Boolean.box(nulls),
            Boolean.box(nans), newMin.orNull, newMax.orNull, newExtra.orNull)
      }
    }

  /** (columnId, containsNull, containsNan, min, max) global stats */
  def tableColumnStats(tableId: Long): Seq[(Long, Boolean, Boolean,
      Option[String], Option[String], Option[String])] = withConn { c =>
    query(c,
      """SELECT column_id, contains_null, contains_nan, min_value, max_value,
        |extra_stats
        |FROM ducklake_table_column_stats WHERE table_id = ?
        |ORDER BY column_id""".stripMargin, Long.box(tableId)) { rs =>
      (rs.getLong(1), rs.getBoolean(2), rs.getBoolean(3),
        Option(rs.getString(4)), Option(rs.getString(5)),
        Option(rs.getString(6)))
    }
  }

  /** Per-file (min, max, non-null value count, contains_nan) for one
    * column — driver-side input to Top-N file pruning (one round-trip,
    * one row per file). The non-null count is None when value_count or
    * null_count is NULL in the catalog (both are nullable in the DuckLake
    * DDL — catalogs written by other writers may omit them): unknown
    * counts must mean "cannot prove", never "no values". */
  def fileColumnRanges(tableId: Long, columnId: Long)
      : Map[Long, (Option[String], Option[String], Option[Long], Boolean)] =
    withConn { c =>
      query(c,
        """SELECT s.data_file_id, s.min_value, s.max_value,
          |  s.value_count, s.null_count, s.contains_nan
          |FROM ducklake_file_column_stats s
          |WHERE s.table_id = ? AND s.column_id = ?""".stripMargin,
        Long.box(tableId), Long.box(columnId)) { rs =>
        val vc = rs.getLong(4); val vcNull = rs.wasNull()
        val nc = rs.getLong(5); val ncNull = rs.wasNull()
        val nonNull = if (vcNull || ncNull) None else Some(vc - nc)
        rs.getLong(1) -> ((Option(rs.getString(2)), Option(rs.getString(3)),
          nonNull, rs.getBoolean(6)))
      }.toMap
    }

  /** Per-file serialized extra stats (geo extent JSON) for one column of
    * the given files — the driver-side input to geometry bbox pruning.
    * One round-trip per scanned column with a geo predicate. */
  def fileExtraStats(tableId: Long, columnId: Long): Map[Long, String] =
    withConn { c =>
      query(c,
        """SELECT data_file_id, extra_stats FROM ducklake_file_column_stats
          |WHERE table_id = ? AND column_id = ? AND extra_stats IS NOT NULL"""
          .stripMargin,
        Long.box(tableId), Long.box(columnId)) { rs =>
        rs.getLong(1) -> rs.getString(2)
      }.toMap
    }

  /** Stats row insert. Numeric stats land BOTH as the canonical VARCHAR
    * form (reference parity) and as typed DOUBLE columns so catalog-side
    * pruning needs no VARCHAR casts (Derby forbids them; an index on the
    * numeric columns also scales to millions of files). */
  private val ColStatsSql =
    """INSERT INTO ducklake_file_column_stats (data_file_id, table_id,
      |column_id, column_size_bytes, value_count, null_count, min_value,
      |max_value, min_numeric, max_numeric, contains_nan, extra_stats)
      |VALUES (?, ?, ?, NULL, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin

  private def colStatsArgs(fid: Long, tableId: Long, valueCount: Long,
      s: FileColumnStats): Seq[Any] = {
    def num(v: Option[String]): Object =
      if (!s.numeric) null
      else v.flatMap(x => scala.util.Try(x.toDouble).toOption)
        .map(Double.box).orNull
    Seq(Long.box(fid), Long.box(tableId), Long.box(s.columnId),
      Long.box(valueCount), Long.box(s.nullCount),
      s.minValue.orNull, s.maxValue.orNull, num(s.minValue), num(s.maxValue),
      Boolean.box(s.nanCount > 0), s.extraStats.orNull)
  }

  private val VariantStatsSql =
    """INSERT INTO ducklake_file_variant_stats (data_file_id, table_id,
      |column_id, variant_path, shredded_type, value_count, null_count,
      |min_value, max_value, min_numeric, max_numeric)
      |VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin

  private def variantStatsArgs(fid: Long, tableId: Long, valueCount: Long,
      st: VariantPathStats): Seq[Any] = {
    def num(v: Option[String]): Object =
      if (!st.numeric) null
      else v.flatMap(x => scala.util.Try(x.toDouble).toOption)
        .map(Double.box).orNull
    Seq(Long.box(fid), Long.box(tableId), Long.box(st.columnId), st.path,
      st.shreddedType.orNull, Long.box(valueCount), Long.box(st.nullCount),
      st.minValue.orNull, st.maxValue.orNull, num(st.minValue),
      num(st.maxValue))
  }

  private def insertColStats(c: Connection, fid: Long, tableId: Long,
      valueCount: Long, s: FileColumnStats): Unit =
    exec(c, ColStatsSql, colStatsArgs(fid, tableId, valueCount, s): _*)

  // ---------------------------------------------------------------- deletes

  /** Positional-delete commit: each entry covers one data file and
    * REPLACES any previous delete file for it (consecutive deletes are
    * unioned by the writer — reference ducklake_delete.cpp:36-206).
    * Conflicts if another txn deleted from the same data files since
    * `baseSnapshot` (reference transaction_state CheckForConflicts). */
  def commitDeletes(tableId: Long, baseSnapshot: Long,
      deletes: Seq[(Long, String, Long, Long)], // (dataFileId, path, deleteCount, fileSize)
      format: String = "parquet",
      newFiles: Seq[PendingDataFile] = Nil,
      removedRows: Long = 0L,
      newFilesPartitionId: Option[Long] = None,
      endInlinedRowIds: Seq[Long] = Nil): Snapshot = {
    val touched = deletes.map(_._1).toSet
    commitSnapshot(
      SnapshotChanges(
        deletedFromTables = Seq(tableId),
        insertedIntoTables = if (newFiles.nonEmpty) Seq(tableId) else Nil),
      conflictCheck = (c, _) => {
        checkDeleteConflicts(c, tableId, baseSnapshot, touched)
        if (endInlinedRowIds.nonEmpty) {
          val n = query(c,
            s"""SELECT COUNT(*) FROM ${inlinedTableName(tableId)}
               |WHERE end_snapshot IS NOT NULL AND end_snapshot > ?"""
              .stripMargin,
            Long.box(baseSnapshot))(_.getLong(1)).head
          if (n > 0) throw new CommitConflictException(
            s"inlined rows of table $tableId were changed concurrently")
        }
      }) {
      (c, snap, ids) =>
      if (endInlinedRowIds.nonEmpty)
        endInlinedRowsIn(c, snap, ids, tableId, endInlinedRowIds, Nil,
          isFlush = false, explicitRowIdStart = None)
      // staged-commit batching: one round trip per statement kind, not
      // per affected data file (a wide DELETE touches thousands of files)
      execBatch(c,
        """UPDATE ducklake_delete_file SET end_snapshot = ?
          |WHERE data_file_id = ? AND end_snapshot IS NULL""".stripMargin,
        deletes.map { case (dataFileId, _, _, _) =>
          Seq(Long.box(snap.snapshotId), Long.box(dataFileId))
        })
      execBatch(c,
        """INSERT INTO ducklake_delete_file (delete_file_id, table_id,
          |begin_snapshot, end_snapshot, data_file_id, path,
          |path_is_relative, file_format, delete_count, file_size_bytes)
          |VALUES (?, ?, ?, NULL, ?, ?, true, ?, ?, ?)""".stripMargin,
        deletes.map { case (dataFileId, path, deleteCount, fileSize) =>
          Seq(Long.box(ids.newFileId()), Long.box(tableId),
            Long.box(snap.snapshotId), Long.box(dataFileId), path, format,
            Long.box(deleteCount), Long.box(fileSize))
        })
      if (newFiles.nonEmpty)
        insertFiles(c, snap, ids, tableId, newFiles, newFilesPartitionId)
      if (removedRows != 0L) {
        exec(c,
          "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
          Long.box(removedRows), Long.box(tableId))
      }
      // a delete file replaces ALL prior delete info for its data file —
      // including inlined-delete rows the writer folded into it
      absorbInlinedDeletes(c, tableId, snap.snapshotId, deletes.map(_._1))
    }
  }

  /** Multi-statement transaction commit: all buffered appends and deletes
    * land as ONE snapshot (reference FlushChanges/RunCommitLoop,
    * ducklake_transaction.cpp:1371-1545), with the same semantic conflict
    * checks the individual commits use. */
  /** `created`: tables created INSIDE the transaction — visible to no one
    * until this commit (reference transaction-local catalog entries,
    * basic_transaction.test). Each entry is (provisional negative id,
    * schema, name, top-level column specs, provisional column ids in DFS
    * pre-order). Real table/column ids are allocated here in the SAME
    * DFS order, so staged file stats carrying provisional column ids are
    * remapped positionally before insertion. */
  def commitTransaction(baseSnapshot: Long,
      appends: Seq[(Long, Option[Long], Seq[PendingDataFile])],
      deletes: Seq[(Long, Seq[(Long, String, Long, Long, String)], Long)],
      inlinedDeletes: Seq[(Long, Seq[Long])] = Nil,
      created: Seq[(Long, String, String, Seq[(String, String, Boolean)],
        Seq[Long])] = Nil,
      dropped: Seq[(Long, String, String)] = Nil,
      createdSchemas: Seq[String] = Nil,
      alters: Seq[(Long, AlterSpec)] = Nil,
      macroOps: Seq[MacroOp] = Nil,
      viewOps: Seq[ViewOp] = Nil,
      renames: Seq[(Long, String, String, String)] = Nil,
      partitionOps: Seq[(Long, Long, Seq[(Long, String)])] = Nil,
      sortOps: Seq[(Long, Seq[(String, String, String)])] = Nil,
      flushOps: Seq[(Long, Seq[Long], PendingDataFile)] = Nil)
      : Snapshot = {
    val touched = deletes.flatMap(_._2.map(_._1)).toSet
    val tables = (appends.map(_._1) ++ deletes.map(_._1) ++
      inlinedDeletes.map(_._1) ++ alters.map(_._1) ++
      partitionOps.map(_._1) ++ sortOps.map(_._1)).distinct.filter(_ >= 0)
    commitSnapshot(
      SnapshotChanges(
        createdTables = created.map { case (_, s, n, _, _) => s"$s.$n" } ++
          macroOps.collect { case CreateMacroOp(n, impls, _) =>
            s"${if (impls.exists(_.isTable)) "tmacro" else "macro"}:$n" } ++
          viewOps.collect { case CreateViewOp(n, _, _, _) => s"view:$n" },
        droppedTables = dropped.map { case (_, s, n) => s"$s.$n" } ++
          macroOps.collect { case DropMacroOp(n, isTable, _) =>
            s"${if (isTable) "tmacro" else "macro"}:$n" } ++
          viewOps.collect { case DropViewOp(n, _, _) => s"view:$n" },
        insertedIntoTables = appends.map(_._1).filter(_ >= 0),
        deletedFromTables =
          (deletes.map(_._1) ++ inlinedDeletes.map(_._1)).distinct,
        compactedTables = flushOps.map(_._1).distinct),
      schemaChange = created.nonEmpty || dropped.nonEmpty ||
        createdSchemas.nonEmpty || alters.nonEmpty || macroOps.nonEmpty ||
        viewOps.nonEmpty || renames.nonEmpty || partitionOps.nonEmpty ||
        sortOps.nonEmpty,
      conflictCheck = (c, _) => {
        // txn-created tables conflict only with a same-name concurrent
        // create (reference create_conflict.test); different names never
        // falsely conflict (concurrent_catalog_id_false_conflict.test)
        created.foreach { case (_, schema, name, _, _) =>
          val cur = currentSnapshot(c)
          // a live same-name table this txn itself drops — or renames to
          // a DIFFERENT name — is fine (DROP + CREATE of one name, and
          // the dbt swap workload's rename-away + create)
          val renamedAway = renames.groupBy(_._1).collect {
            case (tid, ops) if ops.last._4 != name => tid
          }.toSet
          tableByName(c, name, cur.snapshotId, schema).foreach { existing =>
            if (!dropped.exists(_._1 == existing.tableId) &&
                !renamedAway.contains(existing.tableId))
              throw new CommitConflictException(
                s"table $name already exists")
          }
        }
        // txn-created schemas conflict on a same-name concurrent create
        createdSchemas.foreach { s =>
          val live = query(c,
            """SELECT COUNT(*) FROM ducklake_schema
              |WHERE schema_name = ? AND end_snapshot IS NULL""".stripMargin,
            s)(_.getLong(1)).head
          if (live > 0) throw new CommitConflictException(
            s"schema $s already exists")
        }
        // txn drops conflict when the table is already gone
        // (drop-vs-drop, reference transaction_conflicts.test)
        dropped.foreach { case (tid, _, name) =>
          val live = query(c,
            """SELECT COUNT(*) FROM ducklake_table
              |WHERE table_id = ? AND end_snapshot IS NULL""".stripMargin,
            Long.box(tid))(_.getLong(1)).head
          if (live == 0) throw new CommitConflictException(
            s"table $name was dropped concurrently")
        }
        // buffered renames: the source must still be live under the name
        // this txn saw; the FINAL target name must be free — except for
        // objects this txn itself drops or renames away
        if (renames.nonEmpty) {
          val cur = currentSnapshot(c)
          val excluded = dropped.map(_._1).toSet ++ renames.map(_._1).toSet
          renames.groupBy(_._1).foreach { case (tid, ops) =>
            val liveName = query(c,
              """SELECT table_name FROM ducklake_table
                |WHERE table_id = ? AND end_snapshot IS NULL""".stripMargin,
              Long.box(tid))(_.getString(1)).headOption
            if (liveName.isEmpty) throw new CommitConflictException(
              s"table ${ops.head._3} was dropped concurrently")
            if (liveName.get != ops.head._3)
              throw new CommitConflictException(
                s"table ${ops.head._3} was renamed concurrently " +
                  s"(now ${liveName.get})")
            val (_, schema, _, fin) = ops.last
            tableByName(c, fin, cur.snapshotId, schema).foreach { ex =>
              if (!excluded.contains(ex.tableId))
                throw new CommitConflictException(
                  s"table $fin already exists")
            }
            val viewHit = query(c,
              """SELECT 1 FROM ducklake_view v
                |JOIN ducklake_schema s ON v.schema_id = s.schema_id
                |WHERE v.view_name = ? AND s.schema_name = ?
                |  AND v.end_snapshot IS NULL""".stripMargin,
              fin, schema)(_.getInt(1)).nonEmpty
            if (viewHit) throw new CommitConflictException(
              s"a view named $fin already exists")
          }
        }
        // server-side consolidated check: live-table count + concurrent-
        // ALTER count for EVERY touched table in one statement (the
        // reference's single check+commit SQL call,
        // ducklake_server_side_commit.cpp); per-table detail queries only
        // run when the consolidated counts flag a conflict.
        // A concurrent ALTER is a conflict because files staged under the
        // old schema would get begin_snapshot = commit snapshot and be
        // misread under the post-ALTER epoch mapping (reference
        // transaction conflict rules, ducklake_transaction.cpp
        // CheckForConflicts).
        if (tables.nonEmpty) {
          val in = tables.mkString(",")
          val (live, altered) = query(c,
            s"""SELECT
               |(SELECT COUNT(*) FROM ducklake_table
               | WHERE table_id IN ($in) AND end_snapshot IS NULL),
               |(SELECT COUNT(*) FROM ducklake_column
               | WHERE table_id IN ($in)
               |   AND (begin_snapshot > ?
               |        OR (end_snapshot IS NOT NULL AND end_snapshot > ?)))
               |${dialect.dualFrom}""".stripMargin,
            Long.box(baseSnapshot), Long.box(baseSnapshot))(rs =>
            (rs.getLong(1), rs.getLong(2))).head
          if (live < tables.size) {
            val alive = query(c,
              s"""SELECT table_id FROM ducklake_table
                 |WHERE table_id IN ($in) AND end_snapshot IS NULL"""
                .stripMargin)(_.getLong(1)).toSet
            throw new CommitConflictException(
              s"table ${tables.filterNot(alive).head} was dropped " +
                "concurrently")
          }
          if (altered > 0) {
            val tid = query(c,
              s"""SELECT DISTINCT table_id FROM ducklake_column
                 |WHERE table_id IN ($in)
                 |  AND (begin_snapshot > ?
                 |       OR (end_snapshot IS NOT NULL AND end_snapshot > ?))"""
                .stripMargin,
              Long.box(baseSnapshot), Long.box(baseSnapshot))(_.getLong(1))
              .head
            throw new CommitConflictException(
              s"table $tid was altered concurrently (schema change since " +
                s"transaction start at snapshot $baseSnapshot)")
          }
        }
        // a concurrent SET/RESET PARTITIONED BY on a table this txn
        // also re-specs is a write-write conflict (last-writer-wins
        // would silently end the other session's spec)
        partitionOps.map(_._1).filter(_ >= 0).distinct.foreach { tid =>
          val n = query(c,
            """SELECT COUNT(*) FROM ducklake_partition_info
              |WHERE table_id = ? AND (begin_snapshot > ?
              |  OR (end_snapshot IS NOT NULL AND end_snapshot > ?))"""
              .stripMargin,
            Long.box(tid), Long.box(baseSnapshot),
            Long.box(baseSnapshot))(_.getLong(1)).head
          if (n > 0) throw new CommitConflictException(
            s"partition spec of table $tid was changed concurrently")
        }
        // same write-write rule for a buffered SET/RESET SORTED BY
        sortOps.map(_._1).filter(_ >= 0).distinct.foreach { tid =>
          val n = query(c,
            """SELECT COUNT(*) FROM ducklake_sort_info
              |WHERE table_id = ? AND (begin_snapshot > ?
              |  OR (end_snapshot IS NOT NULL AND end_snapshot > ?))"""
              .stripMargin,
            Long.box(tid), Long.box(baseSnapshot),
            Long.box(baseSnapshot))(_.getLong(1)).head
          if (n > 0) throw new CommitConflictException(
            s"sort spec of table $tid was changed concurrently")
        }
        // a buffered flush conflicts when anyone else ended inlined rows
        // of the table since our base (concurrent flush or delete)
        flushOps.foreach { case (tid, _, _) =>
          val n = query(c,
            s"""SELECT COUNT(*) FROM ${inlinedTableName(tid)}
               |WHERE end_snapshot IS NOT NULL AND end_snapshot > ?"""
              .stripMargin,
            Long.box(baseSnapshot))(_.getLong(1)).head
          if (n > 0) throw new CommitConflictException(
            s"inlined rows of table $tid were flushed or deleted " +
              "concurrently")
        }
        if (touched.nonEmpty) {
          deletes.foreach { case (tid, _, _) =>
            checkDeleteConflicts(c, tid, baseSnapshot, touched)
          }
        }
        inlinedDeletes.foreach { case (tid, ids0) =>
          // an inlined row our txn deletes that another txn already ended
          // since BEGIN is a write-write conflict
          ids0.grouped(500).foreach { g =>
            val n = query(c,
              s"""SELECT COUNT(*) FROM ${inlinedTableName(tid)}
                 |WHERE row_id IN (${g.mkString(",")})
                 |  AND end_snapshot IS NOT NULL AND end_snapshot > ?"""
                .stripMargin,
              Long.box(baseSnapshot))(_.getLong(1)).head
            if (n > 0) throw new CommitConflictException(
              s"concurrent delete on inlined rows of table $tid")
          }
        }
      }) { (c, snap, ids) =>
      // end dropped tables
      dropped.foreach { case (tid, _, _) =>
        exec(c,
          "UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
          Long.box(snap.snapshotId), Long.box(tid))
      }
      // txn-created schemas land before the tables that live in them
      createdSchemas.foreach { s =>
        exec(c,
          """INSERT INTO ducklake_schema (schema_id, schema_uuid,
            |begin_snapshot, end_snapshot, schema_name, path,
            |path_is_relative) VALUES (?, ?, ?, NULL, ?, '', true)"""
            .stripMargin,
          Long.box(ids.newCatalogId()),
          java.util.UUID.randomUUID().toString,
          Long.box(snap.snapshotId), s)
      }
      // create txn-local tables first: real ids allocated in the same DFS
      // pre-order as the provisional ones → positional remap
      val tableIdMap = scala.collection.mutable.Map.empty[Long, Long]
      val colIdMap = scala.collection.mutable.Map.empty[Long, Long]
      created.foreach { case (pid, schema, name, columns, provIds) =>
        val schemaId = query(c,
          "SELECT schema_id FROM ducklake_schema WHERE schema_name = ? AND end_snapshot IS NULL",
          schema)(_.getLong(1)).headOption
          .getOrElse(throw new IllegalArgumentException(s"no schema $schema"))
        val tid = ids.newCatalogId()
        exec(c,
          """INSERT INTO ducklake_table (table_id, table_uuid, begin_snapshot,
            |end_snapshot, schema_id, table_name, path, path_is_relative)
            |VALUES (?, ?, ?, NULL, ?, ?, ?, true)""".stripMargin,
          Long.box(tid), java.util.UUID.randomUUID().toString,
          Long.box(snap.snapshotId), Long.box(schemaId), name, name)
        val realIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        columns.zipWithIndex.foreach { case ((cn, ct, nullable), i) =>
          insertColumnTree(c, ids, snap.snapshotId, tid, i.toLong, cn, ct,
            nullable, default = None, initial = None, parent = None,
            sink = realIds += _)
        }
        require(realIds.size == provIds.size,
          s"column id mapping mismatch for txn-created table $name")
        exec(c,
          """INSERT INTO ducklake_table_stats (table_id, record_count,
            |next_row_id, file_size_bytes) VALUES (?, 0, 0, 0)""".stripMargin,
          Long.box(tid))
        tableIdMap(pid) = tid
        colIdMap ++= provIds.zip(realIds)
      }
      // buffered renames of COMMITTED tables, in statement order: close
      // the live row, reopen with the same table_id/uuid/path under the
      // new name (identity + time travel preserved, exactly like the
      // statement-level rename). A table both renamed and dropped in this
      // txn has no live row by now — the drop wins, skip silently.
      renames.foreach { case (tid, _, _, newName) =>
        query(c,
          """SELECT table_uuid, schema_id, path FROM ducklake_table
            |WHERE table_id = ? AND end_snapshot IS NULL""".stripMargin,
          Long.box(tid))(rs => (rs.getString(1), rs.getLong(2),
          rs.getString(3))).headOption.foreach { case (uuid, schemaId, path) =>
          exec(c,
            "UPDATE ducklake_table SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
            Long.box(snap.snapshotId), Long.box(tid))
          exec(c,
            """INSERT INTO ducklake_table (table_id, table_uuid,
              |begin_snapshot, end_snapshot, schema_id, table_name, path,
              |path_is_relative) VALUES (?, ?, ?, NULL, ?, ?, ?, true)"""
              .stripMargin,
            Long.box(tid), uuid, Long.box(snap.snapshotId),
            Long.box(schemaId), newName, path)
        }
      }
      // buffered column changes, in statement order; each reads the
      // schema as applied so far within this same snapshot
      alters.foreach { case (tid, spec) =>
        val cols = columnsOf(c, tid, snap.snapshotId)
        def root(n: String): ColumnInfo =
          cols.find(x => x.parentColumn.isEmpty && x.name.equalsIgnoreCase(n))
            .getOrElse(throw new IllegalArgumentException(s"no column $n"))
        spec match {
          case AlterSpec.AddCol(n, ts, nullable, default, provIds) =>
            val maxOrder = cols.filter(_.parentColumn.isEmpty)
              .map(_.columnOrder).maxOption.getOrElse(-1L)
            val realIds = scala.collection.mutable.ArrayBuffer.empty[Long]
            insertColumnTree(c, ids, snap.snapshotId, tid, maxOrder + 1, n,
              ts, nullable, default, default, parent = None,
              sink = realIds += _)
            require(realIds.size == provIds.size,
              s"column id mapping mismatch for txn ADD COLUMN $n")
            colIdMap ++= provIds.zip(realIds)
          case AlterSpec.DropCol(n) =>
            closeColumnTree(c, snap.snapshotId, tid, cols, root(n).columnId)
          case AlterSpec.RenameCol(o, n2) =>
            reopenColumn(c, snap.snapshotId, tid, root(o).copy(name = n2))
            rewriteSortSpecIn(c, snap.snapshotId, ids, tid, o, n2)
          case AlterSpec.SetDefault(n, v) =>
            reopenColumn(c, snap.snapshotId, tid,
              root(n).copy(defaultValue = v))
          case AlterSpec.SetNotNull(n, allowed) =>
            reopenColumn(c, snap.snapshotId, tid,
              root(n).copy(nullsAllowed = allowed))
          case AlterSpec.ChangeType(n, nt) =>
            val ci = root(n)
            if (!DuckLakeTypes.isWidening(ci.typeString, nt))
              throw new IllegalArgumentException(
                "only widening type promotions are allowed: " +
                  s"${ci.typeString} -> $nt")
            reopenColumn(c, snap.snapshotId, tid, ci.copy(typeString = nt))
        }
      }
      // buffered SET PARTITIONED BY, after alters so columns are final
      // (reference partition_rename_in_transaction.test: spec set on a
      // txn-created table, partitioned inserts in the SAME txn)
      val pidMap = scala.collection.mutable.Map.empty[Long, Long]
      partitionOps.foreach { case (tid0, ppid, specs) =>
        val tid = if (tid0 < 0) tableIdMap(tid0) else tid0
        // column IDS survive same-txn renames; provisional ids (spec on
        // a txn-created table) remap exactly like staged file stats
        val live = columnsOf(c, tid, snap.snapshotId)
          .filter(_.parentColumn.isEmpty).map(_.columnId).toSet
        val fields = specs.map { case (cid0, tr) =>
          val cid = if (cid0 < 0) colIdMap(cid0) else cid0
          if (!live.contains(cid))
            throw new IllegalArgumentException(
              "cannot partition by a column dropped in the same " +
                s"transaction (column id $cid)")
          (cid, tr)
        }
        pidMap(ppid) = setPartitionSpecIn(c, snap, ids, tid, fields)
      }
      // buffered SET/RESET SORTED BY, after alters/renames so the stored
      // expressions bind against the table's final columns; a sort key
      // no longer resolvable (e.g. its column renamed later in the SAME
      // txn) fails the commit loudly rather than landing a broken spec
      sortOps.foreach { case (tid0, exprs) =>
        val tid = if (tid0 < 0) tableIdMap(tid0) else tid0
        val live = columnsOf(c, tid, snap.snapshotId)
          .filter(_.parentColumn.isEmpty).map(_.name.toLowerCase).toSet
        exprs.foreach { case (e, _, _) =>
          val refs = SqlIdent.refs(e)
          if (refs.nonEmpty && !refs.forall(live.contains))
            throw new IllegalArgumentException(
              s"sort expression '$e' references a column missing from " +
                s"table $tid at commit (renamed or dropped in the same " +
                "transaction?)")
        }
        writeSortSpecIn(c, snap.snapshotId, ids, tid, exprs)
      }
      // buffered flush_inlined_data: rowid-preserving, lands in the SAME
      // snapshot as the rest of the transaction (reference
      // data_inlining_flush.test inside BEGIN)
      flushOps.foreach { case (tid, rowIds, pf) =>
        endInlinedRowsIn(c, snap, ids, tid, rowIds, Seq(pf),
          isFlush = true, explicitRowIdStart = Some(rowIds.min))
      }
      // buffered macro DDL, in statement order (DROP+CREATE of one name
      // in one transaction nets out correctly)
      macroOps.foreach {
        case CreateMacroOp(n, impls, orReplace) =>
          createMacroIn(c, snap, ids, n, impls, orReplace = orReplace)
        case DropMacroOp(n, isTable, ifExists) =>
          dropMacroIn(c, snap, n, isTable, ifExists)
      }
      // buffered view DDL, in statement order; the in-connection bodies
      // re-run on commit retries, so a racing CREATE VIEW of the same
      // name surfaces as a conflict (transaction_conflicts_view.test)
      viewOps.foreach {
        case CreateViewOp(n, s, sql, orReplace) =>
          createViewIn(c, snap, ids, n, sql, s, "spark", orReplace)
        case DropViewOp(n, s, ifExists) =>
          dropViewIn(c, snap, n, s, ifExists)
        case RenameViewOp(o, n2, s) =>
          renameViewIn(c, snap, o, n2, s)
      }
      appends.foreach { case (tid0, partitionId0, files0) =>
        val tid = if (tid0 < 0) tableIdMap(tid0) else tid0
        def remap(id: Long): Long = if (id < 0) colIdMap(id) else id
        val partitionId = partitionId0.map(p => if (p < 0) pidMap(p) else p)
        val files = files0.map(f => f.copy(
          columnStats = f.columnStats.map(s =>
            s.copy(columnId = remap(s.columnId))),
          variantStats = f.variantStats.map(s =>
            s.copy(columnId = remap(s.columnId)))))
        insertFiles(c, snap, ids, tid, files, partitionId)
      }
      inlinedDeletes.foreach { case (tid, ids0) =>
        execBatch(c,
          s"""UPDATE ${inlinedTableName(tid)} SET end_snapshot = ?
             |WHERE row_id = ? AND end_snapshot IS NULL""".stripMargin,
          ids0.map(rid => Seq(Long.box(snap.snapshotId), Long.box(rid))))
        exec(c,
          "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
          Long.box(ids0.size.toLong), Long.box(tid))
      }
      deletes.foreach { case (tid, entries, removedRows) =>
        entries.foreach {
          case (dataFileId, path, deleteCount, fileSize, format) =>
          exec(c,
            """UPDATE ducklake_delete_file SET end_snapshot = ?
              |WHERE data_file_id = ? AND end_snapshot IS NULL""".stripMargin,
            Long.box(snap.snapshotId), Long.box(dataFileId))
          exec(c,
            """INSERT INTO ducklake_delete_file (delete_file_id, table_id,
              |begin_snapshot, end_snapshot, data_file_id, path,
              |path_is_relative, file_format, delete_count, file_size_bytes)
              |VALUES (?, ?, ?, NULL, ?, ?, true, ?, ?, ?)""".stripMargin,
            Long.box(ids.newFileId()), Long.box(tid),
            Long.box(snap.snapshotId), Long.box(dataFileId), path, format,
            Long.box(deleteCount), Long.box(fileSize))
        }
        if (removedRows != 0L)
          exec(c,
            "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
            Long.box(removedRows), Long.box(tid))
        absorbInlinedDeletes(c, tid, snap.snapshotId, entries.map(_._1))
      }
    }
  }

  // ------------------------------------------------------------------ scans

  /** Data files of a table visible at a snapshot, minus files provably
    * pruned by per-file stats, plus the delete files applying to each.
    * The pruning predicate runs IN the catalog DB — before Spark ever
    * sees a file list (SURVEY.md §4: our main custom optimization). */
  def filesForScan(tableId: Long, snapshotId: Long,
      filters: Seq[StatsFilter] = Nil,
      partitionEq: Seq[(Long, String)] = Nil,
      variantFilters: Seq[VariantStatsFilter] = Nil,
      partitionSpecId: Option[Long] = None): Seq[ScanFile] =
    withConn { c =>
    // partition pruning: equality on transformed partition values; files
    // written before the spec (partition_id NULL) — or under a DIFFERENT
    // spec version than the one the values were derived from — are never
    // pruned: a re-partitioned table's old files keep stale
    // partition_key_index rows whose values mean something else entirely
    // (reference ducklake_metadata_manager.cpp:1719-1740 matches on the
    // file's own partition spec)
    val specGuard = partitionSpecId
      .map(pid => s"f.partition_id <> $pid OR ").getOrElse("")
    val partClauses = partitionEq.map { case (keyIndex, v) =>
      s"""AND (f.partition_id IS NULL OR $specGuard EXISTS (
         |  SELECT 1 FROM ducklake_file_partition_value p
         |  WHERE p.data_file_id = f.data_file_id
         |    AND p.partition_key_index = $keyIndex
         |    AND p.partition_value = '${v.replace("'", "''")}'))""".stripMargin
    }.mkString("\n")
    val pruneClauses0 = filters.map { f =>
      val (minE, maxE) =
        if (f.numeric) ("s.min_numeric", "s.max_numeric")
        else ("s.min_value", "s.max_value")
      val v = if (f.numeric) f.value else s"'${f.value.replace("'", "''")}'"
      // prunable when stats PROVE no row matches; NULL stats never prune
      val prunable = f.op match {
        case "=" => s"($minE > $v OR $maxE < $v)"
        case ">" => s"($maxE <= $v)"
        case ">=" => s"($maxE < $v)"
        case "<" => s"($minE >= $v)"
        case "<=" => s"($minE > $v)"
        case "isnull" => "(s.null_count = 0)"
        case "isnotnull" => "(s.value_count = s.null_count)"
        case other => throw new IllegalArgumentException(other)
      }
      s"""AND NOT EXISTS (SELECT 1 FROM ducklake_file_column_stats s
         | WHERE s.data_file_id = f.data_file_id AND s.column_id = ${f.columnId}
         | AND $minE IS NOT NULL AND $prunable)""".stripMargin
    }.mkString("\n")
    // shredded-variant-path pruning (reference ducklake_variant_stats.cpp):
    // same prove-no-row-matches shape against per-path min/max
    val variantClauses = variantFilters.map { f =>
      val (minE, maxE) =
        if (f.numeric) ("s.min_numeric", "s.max_numeric")
        else ("s.min_value", "s.max_value")
      val v = if (f.numeric) f.value else s"'${f.value.replace("'", "''")}'"
      val prunable = f.op match {
        case "=" => s"($minE > $v OR $maxE < $v)"
        case ">" => s"($maxE <= $v)"
        case ">=" => s"($maxE < $v)"
        case "<" => s"($minE >= $v)"
        case "<=" => s"($minE > $v)"
        case other => throw new IllegalArgumentException(other)
      }
      s"""AND NOT EXISTS (SELECT 1 FROM ducklake_file_variant_stats s
         | WHERE s.data_file_id = f.data_file_id
         | AND s.column_id = ${f.columnId}
         | AND s.variant_path = '${f.path.replace("'", "''")}'
         | AND $minE IS NOT NULL AND $prunable)""".stripMargin
    }.mkString("\n")
    val pruneClauses =
      pruneClauses0 + "\n" + variantClauses + "\n" + partClauses
    val dataFiles = query(c,
      s"""SELECT f.data_file_id, f.begin_snapshot, f.end_snapshot,
         |f.file_order, f.path, f.record_count, f.file_size_bytes,
         |f.row_id_start, f.partition_id, f.mapping_id, f.has_row_ids,
         |f.written_sorted
         |FROM ducklake_data_file f
         |WHERE f.table_id = ? AND f.begin_snapshot <= ?
         |  AND (f.end_snapshot IS NULL OR f.end_snapshot > ?)
         |  $pruneClauses
         |ORDER BY f.data_file_id""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId)) { rs =>
      DataFileEntry(rs.getLong("data_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("file_order"), rs.getString("path"),
        rs.getLong("record_count"), rs.getLong("file_size_bytes"),
        rs.getLong("row_id_start"), optLong(rs, "partition_id"),
        mappingId = optLong(rs, "mapping_id"),
        hasRowIds = rs.getBoolean("has_row_ids"),
        writtenSorted = rs.getBoolean("written_sorted"))
    }
    val deletes = query(c,
      """SELECT delete_file_id, begin_snapshot, end_snapshot, data_file_id,
        |path, delete_count, file_format FROM ducklake_delete_file
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId)) { rs =>
      DeleteFileEntry(rs.getLong("delete_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("data_file_id"), rs.getString("path"),
        rs.getLong("delete_count"), rs.getString("file_format"))
    }.groupBy(_.dataFileId)
    dataFiles.map(f => ScanFile(f, deletes.getOrElse(f.dataFileId, Nil)))
  }

  /** Files whose life began in (start, end] — CDC insertions source
    * (reference ducklake_table_insertions.cpp:48-96). */
  def filesInsertedIn(tableId: Long, startSnap: Long,
      endSnap: Long): Seq[DataFileEntry] = withConn { c =>
    query(c,
      """SELECT data_file_id, begin_snapshot, end_snapshot, file_order, path,
        |record_count, file_size_bytes, row_id_start, partition_id,
        |has_row_ids
        |FROM ducklake_data_file
        |WHERE table_id = ? AND begin_snapshot > ? AND begin_snapshot <= ?
        |ORDER BY data_file_id""".stripMargin,
      Long.box(tableId), Long.box(startSnap), Long.box(endSnap)) { rs =>
      DataFileEntry(rs.getLong("data_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("file_order"), rs.getString("path"),
        rs.getLong("record_count"), rs.getLong("file_size_bytes"),
        rs.getLong("row_id_start"), optLong(rs, "partition_id"),
        hasRowIds = rs.getBoolean("has_row_ids"))
    }
  }

  /** Delete files created in (start, end] with the data file each covers —
    * CDC deletions source (reference ducklake_multi_file_list.cpp:396-421). */
  def deleteFilesCreatedIn(tableId: Long, startSnap: Long,
      endSnap: Long): Seq[(DeleteFileEntry, DataFileEntry)] = withConn { c =>
    query(c,
      """SELECT d.delete_file_id, d.begin_snapshot, d.end_snapshot,
        |d.data_file_id, d.path, d.delete_count, d.file_format,
        |f.begin_snapshot AS f_begin, f.end_snapshot AS f_end,
        |f.file_order, f.path AS f_path, f.record_count, f.file_size_bytes,
        |f.row_id_start, f.partition_id, f.has_row_ids
        |FROM ducklake_delete_file d
        |JOIN ducklake_data_file f ON d.data_file_id = f.data_file_id
        |WHERE d.table_id = ? AND d.begin_snapshot > ? AND d.begin_snapshot <= ?
        |ORDER BY d.delete_file_id""".stripMargin,
      Long.box(tableId), Long.box(startSnap), Long.box(endSnap)) { rs =>
      (DeleteFileEntry(rs.getLong("delete_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("data_file_id"), rs.getString("path"),
        rs.getLong("delete_count"), rs.getString("file_format")),
        DataFileEntry(rs.getLong("data_file_id"), tableId,
          rs.getLong("f_begin"), optLong(rs, "f_end"),
          rs.getLong("file_order"), rs.getString("f_path"),
          rs.getLong("record_count"), rs.getLong("file_size_bytes"),
          rs.getLong("row_id_start"), optLong(rs, "partition_id"),
          hasRowIds = rs.getBoolean("has_row_ids")))
    }
  }

  /** Previous (still-live-before) delete file content for a set of data
    * files at a snapshot — used to union consecutive deletes. */
  def liveDeleteFiles(tableId: Long, snapshotId: Long,
      dataFileIds: Set[Long]): Map[Long, DeleteFileEntry] = withConn { c =>
    if (dataFileIds.isEmpty) Map.empty
    else query(c,
      """SELECT delete_file_id, begin_snapshot, end_snapshot, data_file_id,
        |path, delete_count, file_format FROM ducklake_delete_file
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId)) { rs =>
      DeleteFileEntry(rs.getLong("delete_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("data_file_id"), rs.getString("path"),
        rs.getLong("delete_count"), rs.getString("file_format"))
    }.filter(d => dataFileIds.contains(d.dataFileId))
      .map(d => d.dataFileId -> d).toMap
  }

  def tableStats(tableId: Long): Option[TableStats] = withConn { c =>
    query(c,
      "SELECT record_count, next_row_id, file_size_bytes FROM ducklake_table_stats WHERE table_id = ?",
      Long.box(tableId))(rs =>
      TableStats(rs.getLong(1), rs.getLong(2), rs.getLong(3))).headOption
  }

  // ------------------------------------------------------------ maintenance

  /** Drop snapshots older than a bound (or explicit versions); files whose
    * validity window no longer intersects a live snapshot are moved to
    * ducklake_files_scheduled_for_deletion (reference
    * ducklake_expire_snapshots.cpp:32-155). Never expires the latest. */
  def expireSnapshots(olderThanMs: Option[Long],
      versions: Seq[Long] = Nil): Seq[Long] = withConn { c =>
    require(olderThanMs.isEmpty || versions.isEmpty,
      "cannot specify both older_than and versions") // reference :66
    val latest = currentSnapshot(c).snapshotId
    val toDrop = if (versions.nonEmpty) versions.filter(_ < latest)
    else query(c,
      "SELECT snapshot_id FROM ducklake_snapshot WHERE snapshot_time < ? AND snapshot_id < ?",
      Long.box(olderThanMs.get), Long.box(latest))(_.getLong(1))
    toDrop.foreach { sid =>
      exec(c, "DELETE FROM ducklake_snapshot WHERE snapshot_id = ?", Long.box(sid))
      exec(c, "DELETE FROM ducklake_snapshot_changes WHERE snapshot_id = ?", Long.box(sid))
    }
    // schedule physical deletion of files invisible to every live snapshot
    val live = query(c, "SELECT snapshot_id FROM ducklake_snapshot")(_.getLong(1))
    val liveList = live.mkString(",")
    val nowMs = System.currentTimeMillis()
    Seq("ducklake_data_file", "ducklake_delete_file").foreach { tbl =>
      val idCol = if (tbl == "ducklake_data_file") "data_file_id" else "delete_file_id"
      val dead = query(c,
        s"""SELECT $idCol, path FROM $tbl f
           |WHERE f.end_snapshot IS NOT NULL AND NOT EXISTS (
           |  SELECT 1 FROM ducklake_snapshot s
           |  WHERE s.snapshot_id >= f.begin_snapshot
           |    AND s.snapshot_id < f.end_snapshot)""".stripMargin) { rs =>
        (rs.getLong(1), rs.getString(2))
      }
      dead.foreach { case (fid, path) =>
        exec(c,
          """INSERT INTO ducklake_files_scheduled_for_deletion
            |(data_file_id, path, path_is_relative, schedule_start)
            |VALUES (?, ?, true, ?)""".stripMargin,
          Long.box(fid), path, Long.box(nowMs))
        exec(c, s"DELETE FROM $tbl WHERE $idCol = ?", Long.box(fid))
        if (tbl == "ducklake_data_file") {
          exec(c, "DELETE FROM ducklake_file_column_stats WHERE data_file_id = ?",
            Long.box(fid))
          exec(c, "DELETE FROM ducklake_file_variant_stats WHERE data_file_id = ?",
            Long.box(fid))
          exec(c, "DELETE FROM ducklake_file_partition_value WHERE data_file_id = ?",
            Long.box(fid))
        }
      }
    }
    // metadata debt cleanup (reference expire_snapshots_metadata_cleanup
    // .test): versioned catalog rows whose ENTIRE [begin, end) lifetime
    // is invisible to every remaining snapshot are unreachable — purge
    // them so a long-lived catalog does not accrete every dropped
    // table/column/view/macro/spec forever.
    def purgeDead(table: String): Unit =
      exec(c,
        s"""DELETE FROM $table WHERE end_snapshot IS NOT NULL
           |AND NOT EXISTS (
           |  SELECT 1 FROM ducklake_snapshot s
           |  WHERE s.snapshot_id >= $table.begin_snapshot
           |    AND s.snapshot_id < $table.end_snapshot)""".stripMargin)
    // NOTE ducklake_column is deliberately NOT in this list: closed
    // column versions of a LIVE table are still load-bearing — files
    // written before a rename resolve their columns through the epoch
    // mapping at the file's begin_snapshot, which needs the historical
    // rows even after those snapshots expire. Column rows purge only
    // when their whole table is gone (below).
    Seq("ducklake_view", "ducklake_partition_info",
      "ducklake_sort_info", "ducklake_macro").foreach(purgeDead)
    // purge the tables first, then everything still keyed to a table id
    // that no longer exists in ANY version window (rows of dropped tables
    // keep end_snapshot NULL and are reachable only through their table)
    purgeDead("ducklake_table")
    Seq("ducklake_column", "ducklake_partition_info", "ducklake_sort_info")
      .foreach { t =>
        exec(c,
          s"""DELETE FROM $t WHERE NOT EXISTS (
             |  SELECT 1 FROM ducklake_table x
             |  WHERE x.table_id = $t.table_id)""".stripMargin)
      }
    // child rows keyed by a now-purged parent
    exec(c,
      """DELETE FROM ducklake_partition_column WHERE NOT EXISTS (
        |  SELECT 1 FROM ducklake_partition_info i
        |  WHERE i.partition_id = ducklake_partition_column.partition_id)"""
        .stripMargin)
    exec(c,
      """DELETE FROM ducklake_sort_expression WHERE NOT EXISTS (
        |  SELECT 1 FROM ducklake_sort_info i
        |  WHERE i.sort_info_id = ducklake_sort_expression.sort_info_id)"""
        .stripMargin)
    Seq("ducklake_macro_impl", "ducklake_macro_parameters").foreach { t =>
      exec(c,
        s"""DELETE FROM $t WHERE NOT EXISTS (
           |  SELECT 1 FROM ducklake_macro m
           |  WHERE m.macro_id = $t.macro_id)""".stripMargin)
    }
    Seq("ducklake_table_stats", "ducklake_table_column_stats").foreach { t =>
      exec(c,
        s"""DELETE FROM $t WHERE NOT EXISTS (
           |  SELECT 1 FROM ducklake_table x
           |  WHERE x.table_id = $t.table_id)""".stripMargin)
    }
    // files of tables purged above (their rows keep end_snapshot NULL —
    // they are reachable only through the table): schedule the physical
    // delete and drop the rows + per-file stats
    Seq("ducklake_data_file", "ducklake_delete_file").foreach { tbl =>
      val idCol = if (tbl == "ducklake_data_file") "data_file_id"
        else "delete_file_id"
      val orphaned = query(c,
        s"""SELECT $idCol, path FROM $tbl f WHERE NOT EXISTS (
           |  SELECT 1 FROM ducklake_table x
           |  WHERE x.table_id = f.table_id)""".stripMargin) { rs =>
        (rs.getLong(1), rs.getString(2))
      }
      orphaned.foreach { case (fid, path) =>
        exec(c,
          """INSERT INTO ducklake_files_scheduled_for_deletion
            |(data_file_id, path, path_is_relative, schedule_start)
            |VALUES (?, ?, true, ?)""".stripMargin,
          Long.box(fid), path, Long.box(nowMs))
        exec(c, s"DELETE FROM $tbl WHERE $idCol = ?", Long.box(fid))
        if (tbl == "ducklake_data_file") {
          exec(c, "DELETE FROM ducklake_file_column_stats WHERE data_file_id = ?",
            Long.box(fid))
          exec(c, "DELETE FROM ducklake_file_variant_stats WHERE data_file_id = ?",
            Long.box(fid))
          exec(c, "DELETE FROM ducklake_file_partition_value WHERE data_file_id = ?",
            Long.box(fid))
        }
      }
    }
    // ducklake_schema_versions is NOT trimmed: like historical column
    // rows, the ledger is load-bearing for files that outlive their
    // creating snapshot (the scan resolves a file's schema epoch through
    // it), and it is one tiny row per schema change.
    toDrop
  }

  /** Every file path the catalog references — live AND historical data
    * files (time travel reads ended rows until expire_snapshots drops
    * them), delete files, and files already scheduled for deletion
    * (reference GetKnownFilesForCleanupQuery,
    * ducklake_metadata_manager.cpp: union over ducklake_data_file,
    * ducklake_delete_file and ducklake_files_scheduled_for_deletion with
    * NO snapshot filter). Anything on disk outside this set is an orphan. */
  def knownFilePaths(): Set[String] = withConn { c =>
    (query(c, "SELECT path FROM ducklake_data_file")(_.getString(1)) ++
      query(c, "SELECT path FROM ducklake_delete_file")(_.getString(1)) ++
      query(c,
        "SELECT path FROM ducklake_files_scheduled_for_deletion")(
        _.getString(1))).toSet
  }

  /** Files awaiting physical deletion (reference
    * ducklake_cleanup_files.cpp:66-177); returns and clears entries older
    * than the bound. */
  def takeScheduledDeletions(olderThanMs: Option[Long]): Seq[String] =
    withConn { c =>
      val bound = olderThanMs.getOrElse(Long.MaxValue)
      val paths = query(c,
        "SELECT path FROM ducklake_files_scheduled_for_deletion WHERE schedule_start <= ?",
        Long.box(bound))(_.getString(1))
      exec(c,
        "DELETE FROM ducklake_files_scheduled_for_deletion WHERE schedule_start <= ?",
        Long.box(bound))
      paths
    }

  /** Compaction commit: ends the input files, inserts the merged file with
    * an explicit row_id_start (rowids must survive compaction — reference
    * ducklake_compaction_functions.cpp:289-400). */
  /** per-file hive partition values (key_index → value) */
  def filePartitionValues(tableId: Long): Map[Long, Seq[(Long, String)]] =
    withConn { c =>
      query(c,
        """SELECT data_file_id, partition_key_index, partition_value
          |FROM ducklake_file_partition_value WHERE table_id = ?
          |ORDER BY data_file_id, partition_key_index""".stripMargin,
        Long.box(tableId))(rs =>
        (rs.getLong(1), rs.getLong(2), rs.getString(3)))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3))).toMap
    }

  def commitCompaction(tableId: Long, inputFileIds: Seq[Long],
      merged: PendingDataFile, mergedRowIdStart: Long,
      removedRows: Long = 0L,
      partitionId: Option[Long] = None,
      baseSnapshot: Option[Long] = None): Snapshot =
    commitSnapshot(SnapshotChanges(compactedTables = Seq(tableId)),
      conflictCheck = (c, _) => {
        val stillLive = query(c,
          """SELECT COUNT(*) FROM ducklake_data_file
            |WHERE data_file_id IN (%s) AND end_snapshot IS NULL"""
            .stripMargin.format(inputFileIds.mkString(",")))(_.getLong(1)).head
        if (stillLive != inputFileIds.size) throw new CommitConflictException(
          "compaction inputs were rewritten concurrently")
        // compaction-vs-DELETE: the merged file MATERIALIZED the rows the
        // compaction saw at its planning snapshot — a delete (file or
        // inlined) that landed on an input since then would be silently
        // resurrected by installing the merged file, so it must conflict
        // instead (reference CheckForConflicts,
        // ducklake_transaction_state.cpp:142-243)
        baseSnapshot.foreach(base =>
          checkDeleteConflicts(c, tableId, base, inputFileIds.toSet))
      }) { (c, snap, ids) =>
      inputFileIds.foreach { fid =>
        exec(c,
          "UPDATE ducklake_data_file SET end_snapshot = ? WHERE data_file_id = ?",
          Long.box(snap.snapshotId), Long.box(fid))
        exec(c,
          "UPDATE ducklake_delete_file SET end_snapshot = ? WHERE data_file_id = ? AND end_snapshot IS NULL",
          Long.box(snap.snapshotId), Long.box(fid))
      }
      // inlined-delete rows of the inputs end too: the merged file
      // materialized the surviving rows, so the positions are obsolete
      absorbInlinedDeletes(c, tableId, snap.snapshotId, inputFileIds)
      val fid = ids.newFileId()
      // merged files always embed the materialized rowid/snapshot columns
      exec(c,
        """INSERT INTO ducklake_data_file (data_file_id, table_id,
          |begin_snapshot, end_snapshot, file_order, path, path_is_relative,
          |file_format, record_count, file_size_bytes, footer_size,
          |row_id_start, partition_id, row_group_count, has_row_ids,
          |written_sorted)
          |VALUES (?, ?, ?, NULL, 0, ?, true, 'parquet', ?, ?, NULL, ?, ?, ?, true, ?)""".stripMargin,
        Long.box(fid), Long.box(tableId), Long.box(snap.snapshotId),
        merged.path, Long.box(merged.recordCount),
        Long.box(merged.fileSizeBytes), Long.box(mergedRowIdStart),
        partitionId.map(Long.box).orNull,
        merged.rowGroupCount.map(Long.box).orNull,
        Boolean.box(merged.writtenSorted))
      merged.partitionValues.foreach { case (keyIndex, v) =>
        exec(c,
          """INSERT INTO ducklake_file_partition_value (data_file_id,
            |table_id, partition_key_index, partition_value)
            |VALUES (?, ?, ?, ?)""".stripMargin,
          Long.box(fid), Long.box(tableId), Long.box(keyIndex), v)
      }
      merged.columnStats.foreach(s => insertColStats(c, fid, tableId,
        merged.recordCount, s))
      merged.variantStats.foreach(st => exec(c, VariantStatsSql,
        variantStatsArgs(fid, tableId, merged.recordCount, st): _*))
      if (removedRows != 0L) {
        exec(c,
          "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
          Long.box(removedRows), Long.box(tableId))
      }
    }

  /** End data files with no replacement (fully-deleted file cleanup during
    * rewrite_data_files). */
  def commitDropFiles(tableId: Long, fileIds: Seq[Long]): Snapshot =
    commitSnapshot(SnapshotChanges(compactedTables = Seq(tableId))) {
      (c, snap, _) =>
        fileIds.foreach { fid =>
          exec(c,
            "UPDATE ducklake_data_file SET end_snapshot = ? WHERE data_file_id = ?",
            Long.box(snap.snapshotId), Long.box(fid))
          exec(c,
            "UPDATE ducklake_delete_file SET end_snapshot = ? WHERE data_file_id = ? AND end_snapshot IS NULL",
            Long.box(snap.snapshotId), Long.box(fid))
        }
        absorbInlinedDeletes(c, tableId, snap.snapshotId, fileIds)
    }

  // ------------------------------------------------------- schema evolution

  /** Insert a column row; struct types additionally get one child row per
    * field (recursively), giving every nested field a stable column_id —
    * the identity that makes rename/drop safe over old files (reference
    * ducklake_column.parent_column, SURVEY.md §1.2). */
  private def insertColumnTree(c: Connection, ids: TxnIds, snapId: Long,
      tableId: Long, order: Long, name: String, typeString: String,
      nullable: Boolean, default: Option[String], initial: Option[String],
      parent: Option[Long],
      sink: Long => Unit = _ => ()): Long = {
    val cid = ids.newCatalogId()
    sink(cid)
    exec(c,
      """INSERT INTO ducklake_column (column_id, begin_snapshot, end_snapshot,
        |table_id, column_order, column_name, column_type, nulls_allowed,
        |default_value, initial_default, parent_column)
        |VALUES (?, ?, NULL, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin,
      Long.box(cid), Long.box(snapId), Long.box(tableId), Long.box(order),
      name, typeString, Boolean.box(nullable), default.orNull, initial.orNull,
      parent.map(Long.box).orNull)
    DuckLakeTypes.childSpecs(typeString).zipWithIndex.foreach {
      case ((fn, ft), i) =>
        insertColumnTree(c, ids, snapId, tableId, i.toLong, fn, ft,
          nullable = true, default = None, initial = None,
          parent = Some(cid), sink = sink)
    }
    cid
  }

  /** close a column row and its live descendants (for drops) */
  private def closeColumnTree(c: Connection, snapId: Long, tableId: Long,
      cols: Seq[ColumnInfo], cid: Long): Unit = {
    exec(c,
      """UPDATE ducklake_column SET end_snapshot = ?
        |WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL""".stripMargin,
      Long.box(snapId), Long.box(tableId), Long.box(cid))
    cols.filter(_.parentColumn.contains(cid)).foreach(ch =>
      closeColumnTree(c, snapId, tableId, cols, ch.columnId))
  }

  /** close + reopen a row under the same column_id (versioned alter) */
  private def reopenColumn(c: Connection, snapId: Long, tableId: Long,
      updated: ColumnInfo): Unit = {
    exec(c,
      """UPDATE ducklake_column SET end_snapshot = ?
        |WHERE table_id = ? AND column_id = ? AND end_snapshot IS NULL""".stripMargin,
      Long.box(snapId), Long.box(tableId), Long.box(updated.columnId))
    exec(c,
      """INSERT INTO ducklake_column (column_id, begin_snapshot, end_snapshot,
        |table_id, column_order, column_name, column_type, nulls_allowed,
        |default_value, initial_default, parent_column)
        |VALUES (?, ?, NULL, ?, ?, ?, ?, ?, ?, ?, ?)""".stripMargin,
      Long.box(updated.columnId), Long.box(snapId), Long.box(tableId),
      Long.box(updated.columnOrder), updated.name, updated.typeString,
      Boolean.box(updated.nullsAllowed), updated.defaultValue.orNull,
      updated.initialDefault.orNull, updated.parentColumn.map(Long.box).orNull)
  }

  /** Reconcile a struct column's child rows with a new type string,
    * matching by field name (widening keeps names/positions, so identity is
    * preserved; appended fields get fresh column_ids). */
  private def syncStructChildren(c: Connection, ids: TxnIds, snapId: Long,
      tableId: Long, parentId: Long, newType: String): Unit = {
    val fields = DuckLakeTypes.childSpecs(newType)
    if (fields.isEmpty) return
    def nested(ts: String): Boolean =
      DuckLakeTypes.childSpecs(ts).nonEmpty
    val live = columnsOf(c, tableId, snapId)
      .filter(_.parentColumn.contains(parentId))
    fields.zipWithIndex.foreach { case ((fn, ft), i) =>
      live.find(_.name == fn) match {
        case Some(ch) if ch.typeString == ft && ch.columnOrder == i.toLong =>
          () // unchanged subtree
        case Some(ch) =>
          reopenColumn(c, snapId, tableId,
            ch.copy(typeString = ft, columnOrder = i.toLong))
          if (nested(ft))
            syncStructChildren(c, ids, snapId, tableId, ch.columnId, ft)
        case None =>
          insertColumnTree(c, ids, snapId, tableId, i.toLong, fn, ft,
            nullable = true, default = None, initial = None,
            parent = Some(parentId))
      }
    }
    val kept = fields.map(_._1).toSet
    live.filterNot(ch => kept.contains(ch.name)).foreach(ch =>
      closeColumnTree(c, snapId, tableId,
        columnsOf(c, tableId, snapId), ch.columnId))
  }

  def addColumn(tableId: Long, name: String, typeString: String,
      nullable: Boolean = true, defaultValue: Option[String] = None): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      val maxOrder = qLong(c,
        """SELECT MAX(column_order) FROM ducklake_column
          |WHERE table_id = ? AND end_snapshot IS NULL AND parent_column IS NULL""".stripMargin,
        Long.box(tableId)).getOrElse(-1L)
      insertColumnTree(c, ids, snap.snapshotId, tableId, maxOrder + 1, name,
        typeString, nullable, defaultValue, defaultValue, parent = None)
    }

  def dropColumn(tableId: Long, name: String): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, _) =>
      val cols = columnsOf(c, tableId, snap.snapshotId - 1)
      val ci = cols.find(x => x.parentColumn.isEmpty && x.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      closeColumnTree(c, snap.snapshotId, tableId, cols, ci.columnId)
    }

  /** RENAME COLUMN; live sort expressions referencing the column are
    * rewritten in the same snapshot so sort-on-insert and sorted
    * compaction keep working (reference merge_adjacent_sorted_renamed /
    * flush_sorted_renamed tests). */
  def renameColumn(tableId: Long, oldName: String, newName: String): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      val cols = columnsOf(c, tableId, snap.snapshotId - 1)
      // identifiers match case-insensitively, like the reference's host
      // engine (rename_column_with_case_insensitive_name.test)
      val ci = cols.find(x => x.parentColumn.isEmpty &&
          x.name.equalsIgnoreCase(oldName))
        .getOrElse(throw new IllegalArgumentException(s"no column $oldName"))
      reopenColumn(c, snap.snapshotId, tableId, ci.copy(name = newName))
      rewriteSortSpecIn(c, snap.snapshotId, ids, tableId, oldName, newName)
    }

  /** SET / DROP NOT NULL (reference ducklake_table_entry.cpp:661,711). */
  def setNullsAllowed(tableId: Long, name: String, allowed: Boolean): Unit =
    alterColumn(tableId, name)(_.copy(nullsAllowed = allowed))

  /** SET DEFAULT (reference ducklake_table_entry.cpp:731). */
  def setColumnDefault(tableId: Long, name: String,
      default: Option[String]): Unit =
    alterColumn(tableId, name)(_.copy(defaultValue = default))

  /** Widening-only type change (reference: "only widening type promotions
    * are allowed", test/configs/attach_ducklake.json). */
  def changeColumnType(tableId: Long, name: String, newType: String): Unit = {
    alterColumn(tableId, name) { ci =>
      if (!DuckLakeTypes.isWidening(ci.typeString, newType))
        throw new IllegalArgumentException(
          s"only widening type promotions are allowed: ${ci.typeString} -> $newType")
      ci.copy(typeString = newType)
    }
  }

  /** RENAME a nested struct field addressed by path (e.g. Seq(col, sub)):
    * metadata-only thanks to stable child column_ids. */
  def renameField(tableId: Long, path: Seq[String], newName: String): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      val cols = columnsOf(c, tableId, snap.snapshotId - 1)
      val chain = resolvePath(cols, path)
      val leaf = chain.last
      require(DuckLakeTypes.isStruct(chain.init.last.typeString),
        "RENAME FIELD target must be a struct field " +
          "(list/map child slots have fixed names)")
      val siblings = cols.filter(_.parentColumn == leaf.parentColumn)
      require(!siblings.exists(s => s.columnId != leaf.columnId &&
        s.name == newName), s"field $newName already exists")
      reopenColumn(c, snap.snapshotId, tableId, leaf.copy(name = newName))
      refreshAncestorTypes(c, snap.snapshotId, tableId, chain.init)
    }

  /** DROP a nested struct field addressed by path. */
  def dropField(tableId: Long, path: Seq[String]): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, _) =>
      val cols = columnsOf(c, tableId, snap.snapshotId - 1)
      val chain = resolvePath(cols, path)
      val leaf = chain.last
      require(DuckLakeTypes.isStruct(chain.init.last.typeString),
        "DROP FIELD target must be a struct field")
      val siblings = cols.filter(_.parentColumn == leaf.parentColumn)
      require(siblings.size > 1, "cannot drop the last field of a struct")
      closeColumnTree(c, snap.snapshotId, tableId, cols, leaf.columnId)
      refreshAncestorTypes(c, snap.snapshotId, tableId, chain.init)
    }

  /** top-level column → … → addressed nested field */
  private def resolvePath(cols: Seq[ColumnInfo],
      path: Seq[String]): Seq[ColumnInfo] = {
    require(path.size >= 2, s"need col.field path, got ${path.mkString(".")}")
    val top = cols.find(x => x.parentColumn.isEmpty && x.name == path.head)
      .getOrElse(throw new IllegalArgumentException(s"no column ${path.head}"))
    path.tail.foldLeft(Seq(top)) { (chain, seg) =>
      val next = cols
        .find(x => x.parentColumn.contains(chain.last.columnId) &&
          x.name == seg)
        .getOrElse(throw new IllegalArgumentException(
          s"no field $seg in ${chain.map(_.name).mkString(".")}"))
      chain :+ next
    }
  }

  /** After a child change, rewrite each ancestor's struct type string from
    * its live children, innermost first (rows visible at snapId reflect the
    * change just made). */
  private def refreshAncestorTypes(c: Connection, snapId: Long,
      tableId: Long, ancestors: Seq[ColumnInfo]): Unit =
    ancestors.reverse.foreach { anc =>
      val live = columnsOf(c, tableId, snapId)
      val kids = live.filter(_.parentColumn.contains(anc.columnId))
        .sortBy(_.columnOrder)
      val ts = DuckLakeTypes.rebuildNested(anc.typeString,
        kids.map(k => (k.name, k.typeString)))
      val cur = live.find(_.columnId == anc.columnId).getOrElse(anc)
      reopenColumn(c, snapId, tableId, cur.copy(typeString = ts))
    }

  private def alterColumn(tableId: Long, name: String)(
      f: ColumnInfo => ColumnInfo): Unit =
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      val cols = columnsOf(c, tableId, snap.snapshotId - 1)
      val ci = cols.find(x => x.parentColumn.isEmpty &&
          x.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      val updated = f(ci)
      reopenColumn(c, snap.snapshotId, tableId, updated)
      if (DuckLakeTypes.childSpecs(updated.typeString).nonEmpty &&
        updated.typeString != ci.typeString)
        syncStructChildren(c, ids, snap.snapshotId, tableId, ci.columnId,
          updated.typeString)
    }

  // ------------------------------------------------------------ partitioning

  def setPartitionSpec(tableId: Long,
      fields: Seq[(Long, String)]): Long = { // (columnId, transform)
    var pid = -1L
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      pid = setPartitionSpecIn(c, snap, ids, tableId, fields)
    }
    pid
  }

  private def setPartitionSpecIn(c: Connection, snap: Snapshot,
      ids: TxnIds, tableId: Long, fields: Seq[(Long, String)]): Long = {
    exec(c,
      "UPDATE ducklake_partition_info SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Long.box(snap.snapshotId), Long.box(tableId))
    val pid = ids.newCatalogId()
    exec(c,
      """INSERT INTO ducklake_partition_info (partition_id, table_id,
        |begin_snapshot, end_snapshot) VALUES (?, ?, ?, NULL)""".stripMargin,
      Long.box(pid), Long.box(tableId), Long.box(snap.snapshotId))
    fields.zipWithIndex.foreach { case ((colId, transform), i) =>
      exec(c,
        """INSERT INTO ducklake_partition_column (partition_id, table_id,
          |partition_key_index, column_id, transform)
          |VALUES (?, ?, ?, ?, ?)""".stripMargin,
        Long.box(pid), Long.box(tableId), Long.box(i.toLong),
        Long.box(colId), transform)
    }
    pid
  }

  def currentPartitionSpec(tableId: Long,
      snapshotId: Long): Option[PartitionSpec] = withConn { c =>
    val pids = query(c,
      """SELECT partition_id FROM ducklake_partition_info
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId))(_.getLong(1))
    pids.headOption.map { pid =>
      val fields = query(c,
        """SELECT partition_key_index, column_id, transform
          |FROM ducklake_partition_column WHERE partition_id = ?
          |ORDER BY partition_key_index""".stripMargin,
        Long.box(pid))(rs =>
        PartitionField(rs.getLong(1), rs.getLong(2), rs.getString(3)))
      PartitionSpec(pid, fields)
    }
  }

  // ------------------------------------------------------------- sort specs

  /** Versioned table sort spec (reference ducklake_sort_info /
    * ducklake_sort_expression, metadata_manager.cpp:291-295). */
  def setSortSpec(tableId: Long,
      exprs: Seq[(String, String, String)]): Unit = // (expr, order, nulls)
    commitSnapshot(SnapshotChanges(alteredTables = Seq(tableId)),
      schemaChange = true) { (c, snap, ids) =>
      writeSortSpecIn(c, snap.snapshotId, ids, tableId, exprs)
    }

  private def writeSortSpecIn(c: Connection, snapshotId: Long,
      ids: TxnIds, tableId: Long,
      exprs: Seq[(String, String, String)]): Unit = {
    exec(c,
      "UPDATE ducklake_sort_info SET end_snapshot = ? WHERE table_id = ? AND end_snapshot IS NULL",
      Long.box(snapshotId), Long.box(tableId))
    val sid = ids.newCatalogId()
    exec(c,
      """INSERT INTO ducklake_sort_info (sort_info_id, table_id,
        |begin_snapshot, end_snapshot) VALUES (?, ?, ?, NULL)""".stripMargin,
      Long.box(sid), Long.box(tableId), Long.box(snapshotId))
    exprs.zipWithIndex.foreach { case ((e, order, nulls), i) =>
      exec(c,
        """INSERT INTO ducklake_sort_expression (sort_info_id, table_id,
          |sort_key_index, expression, dialect, sort_order, null_order)
          |VALUES (?, ?, ?, ?, 'spark', ?, ?)""".stripMargin,
        Long.box(sid), Long.box(tableId), Long.box(i.toLong), e, order,
        nulls)
    }
  }

  def currentSortSpec(tableId: Long,
      snapshotId: Long): Seq[(String, String, String)] =
    withConn(c => sortSpecIn(c, tableId, snapshotId))

  /** Live sort spec WITH the snapshot it became live at — lets a reader
    * prove which files were written under it (every file whose
    * begin_snapshot is later was sorted on insert/compaction). */
  def currentSortSpecWithBegin(tableId: Long, snapshotId: Long)
      : Option[(Long, Seq[(String, String, String)])] = withConn { c =>
    val info = query(c,
      """SELECT sort_info_id, begin_snapshot FROM ducklake_sort_info
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId))(rs =>
      (rs.getLong(1), rs.getLong(2))).headOption
    info.map { case (sid, begin) =>
      (begin, query(c,
        """SELECT expression, sort_order, null_order
          |FROM ducklake_sort_expression WHERE sort_info_id = ?
          |ORDER BY sort_key_index""".stripMargin, Long.box(sid))(rs =>
        (rs.getString(1), rs.getString(2), rs.getString(3))))
    }
  }

  private def sortSpecIn(c: Connection, tableId: Long,
      snapshotId: Long): Seq[(String, String, String)] = {
    val sids = query(c,
      """SELECT sort_info_id FROM ducklake_sort_info
        |WHERE table_id = ? AND begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(tableId), Long.box(snapshotId), Long.box(snapshotId))(
      _.getLong(1))
    sids.headOption.toSeq.flatMap { sid =>
      query(c,
        """SELECT expression, sort_order, null_order
          |FROM ducklake_sort_expression WHERE sort_info_id = ?
          |ORDER BY sort_key_index""".stripMargin, Long.box(sid))(rs =>
        (rs.getString(1), rs.getString(2), rs.getString(3)))
    }
  }

  /** Rewrite live sort expressions after a column rename, in the SAME
    * commit (reference merge_adjacent_sorted_renamed.test: "sort
    * expressions are updated during rename"). */
  private def rewriteSortSpecIn(c: Connection, snapshotId: Long,
      ids: TxnIds, tableId: Long, oldName: String,
      newName: String): Unit = {
    val spec = sortSpecIn(c, tableId, snapshotId - 1)
    val rewritten = spec.map { case (e, o, n) =>
      (SqlIdent.rewrite(e, oldName, newName), o, n)
    }
    if (rewritten != spec)
      writeSortSpecIn(c, snapshotId, ids, tableId, rewritten)
  }

  // ------------------------------------------------------------ inlined data

  /** Per-table inlined-data tables: tiny inserts live as rows in the
    * catalog DB instead of Parquet files (reference
    * ducklake_inline_data.cpp:15-120; rows flushed to Parquet by
    * flush_inlined_data). Rows carry begin/end snapshots for time travel
    * and rowids for identity. */
  private def inlinedTableName(tableId: Long) = s"ducklake_inlined_data_$tableId"

  private def ensureInlinedTable(c: Connection, tableId: Long): Unit = {
    val name = inlinedTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) {
      try {
        Using.resource(c.createStatement())(_.executeUpdate(qualify(
          s"""CREATE TABLE $name (
             |  row_id BIGINT NOT NULL, begin_snapshot BIGINT,
             |  end_snapshot BIGINT, row_json VARCHAR(32000))""".stripMargin)))
        exec(c,
          "INSERT INTO ducklake_inlined_data_tables (table_id, table_name, schema_version) VALUES (?, ?, 0)",
          Long.box(tableId), name)
      } catch {
        // check-then-create races across PROCESSES sharing one catalog:
        // a concurrent writer created the side table (and its registry
        // row) between our check and our CREATE. Theirs is identical —
        // proceed; the commit itself still races on the snapshot PK.
        case e: SQLException if tableExists(c, name.toUpperCase) => ()
      }
    }
  }

  /** Insert small row batches directly into the catalog DB. */
  def appendInlined(tableId: Long, rowsJson: Seq[String]): Snapshot =
    commitSnapshot(SnapshotChanges(insertedIntoTables = Seq(tableId))) {
      (c, snap, _) =>
        ensureInlinedTable(c, tableId)
        var rowId = qLong(c,
          "SELECT next_row_id FROM ducklake_table_stats WHERE table_id = ?",
          Long.box(tableId)).getOrElse(0L)
        rowsJson.foreach { j =>
          exec(c,
            s"""INSERT INTO ${inlinedTableName(tableId)}
               |(row_id, begin_snapshot, end_snapshot, row_json)
               |VALUES (?, ?, NULL, ?)""".stripMargin,
            Long.box(rowId), Long.box(snap.snapshotId), j)
          rowId += 1
        }
        exec(c,
          """UPDATE ducklake_table_stats SET record_count = record_count + ?,
            |next_row_id = ? WHERE table_id = ?""".stripMargin,
          Long.box(rowsJson.size.toLong), Long.box(rowId), Long.box(tableId))
    }

  /** live inlined rows at a snapshot: (row_id, begin_snapshot, json) */
  def liveInlinedRows(tableId: Long,
      snapshotId: Long): Seq[(Long, Long, String)] = withConn { c =>
    if (!tableExists(c, inlinedTableName(tableId).toUpperCase)) Nil
    else query(c,
      s"""SELECT row_id, begin_snapshot, row_json
         |FROM ${inlinedTableName(tableId)}
         |WHERE begin_snapshot <= ? AND (end_snapshot IS NULL OR end_snapshot > ?)
         |ORDER BY row_id""".stripMargin,
      Long.box(snapshotId), Long.box(snapshotId))(rs =>
      (rs.getLong(1), rs.getLong(2), rs.getString(3)))
  }

  /** Delete inlined rows (end their validity) + optionally register
    * replacement files (flush) in ONE snapshot. */
  def endInlinedRows(tableId: Long, rowIds: Seq[Long],
      newFiles: Seq[PendingDataFile] = Nil, isFlush: Boolean = false,
      explicitRowIdStart: Option[Long] = None): Snapshot =
    commitSnapshot(SnapshotChanges(
      deletedFromTables = if (isFlush) Nil else Seq(tableId),
      compactedTables = if (isFlush) Seq(tableId) else Nil)) {
      (c, snap, ids) =>
        endInlinedRowsIn(c, snap, ids, tableId, rowIds, newFiles, isFlush,
          explicitRowIdStart)
    }

  private def endInlinedRowsIn(c: Connection, snap: Snapshot, ids: TxnIds,
      tableId: Long, rowIds: Seq[Long], newFiles: Seq[PendingDataFile],
      isFlush: Boolean, explicitRowIdStart: Option[Long]): Unit = {
    rowIds.foreach { rid =>
      exec(c,
        s"""UPDATE ${inlinedTableName(tableId)} SET end_snapshot = ?
           |WHERE row_id = ? AND end_snapshot IS NULL""".stripMargin,
        Long.box(snap.snapshotId), Long.box(rid))
    }
    newFiles.foreach { f =>
      val fid = ids.newFileId()
      // flushed files materialize rowid/snapshot columns
      exec(c,
        """INSERT INTO ducklake_data_file (data_file_id, table_id,
          |begin_snapshot, end_snapshot, file_order, path,
          |path_is_relative, file_format, record_count, file_size_bytes,
          |footer_size, row_id_start, partition_id, row_group_count,
          |has_row_ids)
          |VALUES (?, ?, ?, NULL, 0, ?, true, 'parquet', ?, ?, NULL, ?, NULL, ?, ?)""".stripMargin,
        Long.box(fid), Long.box(tableId), Long.box(snap.snapshotId),
        f.path, Long.box(f.recordCount), Long.box(f.fileSizeBytes),
        Long.box(explicitRowIdStart.getOrElse(0L)),
        f.rowGroupCount.map(Long.box).orNull, Boolean.box(f.hasRowIds))
      f.columnStats.foreach(s => insertColStats(c, fid, tableId,
        f.recordCount, s))
      f.variantStats.foreach(st => exec(c, VariantStatsSql,
        variantStatsArgs(fid, tableId, f.recordCount, st): _*))
    }
    if (!isFlush && rowIds.nonEmpty) {
      exec(c,
        "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
        Long.box(rowIds.size.toLong), Long.box(tableId))
    }
  }

  // -------------------------------------------------------- inlined deletes

  /** Per-table inlined-DELETE tables: small deletes against regular data
    * files live as (data_file_id, row_pos) rows in the catalog DB instead
    * of a tiny delete parquet/DV file (reference deletion inlining,
    * test/sql/deletion_inlining suite, keyed off DATA_INLINING_ROW_LIMIT).
    * Rows carry begin/end snapshots: a later delete FILE for the same
    * data file absorbs them (ends their validity in the same snapshot). */
  private def inlinedDeleteTableName(tableId: Long) =
    s"ducklake_inlined_delete_$tableId"

  private def ensureInlinedDeleteTable(c: Connection, tableId: Long): Unit = {
    val name = inlinedDeleteTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) {
      Using.resource(c.createStatement())(_.executeUpdate(qualify(
        s"""CREATE TABLE $name (
           |  data_file_id BIGINT NOT NULL, row_pos BIGINT NOT NULL,
           |  begin_snapshot BIGINT, end_snapshot BIGINT)""".stripMargin)))
    }
  }

  /** delete-vs-delete (either format) + delete-vs-compaction conflict
    * checks, shared by file-delete, inlined-delete and transaction
    * commits (reference transaction_state CheckForConflicts). */
  /** Server-side consolidated delete-conflict check: ONE statement of
    * scalar COUNT subqueries per (chunk of) touched file ids, instead of
    * one round trip per conflict rule (reference pushes the whole
    * check+commit into a single SQL call for network catalogs,
    * ducklake_server_side_commit.cpp; the IN-chunks are the JDBC analog
    * of its staged id tables). The detailed id-listing queries only run
    * on the rare failure path — the happy path pays one round trip. */
  private def checkDeleteConflicts(c: Connection, tableId: Long,
      baseSnapshot: Long, touched: Set[Long]): Unit = {
    if (touched.isEmpty) return
    val inlName = inlinedDeleteTableName(tableId)
    val hasInl = tableExists(c, inlName.toUpperCase)
    def detail(sql: String, args: Any*): Set[Long] =
      query(c, sql, args: _*)(_.getLong(1)).toSet.intersect(touched)
    touched.toSeq.sorted.grouped(1000).foreach { g =>
      val in = g.mkString(",")
      val inlSub = if (hasInl)
        s"""(SELECT COUNT(*) FROM $inlName
           | WHERE begin_snapshot > ? AND data_file_id IN ($in))""".stripMargin
      else "0"
      val (dels, inls, gones) = query(c,
        s"""SELECT
           |(SELECT COUNT(*) FROM ducklake_delete_file
           | WHERE table_id = ? AND begin_snapshot > ?
           |   AND data_file_id IN ($in)),
           |$inlSub,
           |(SELECT COUNT(*) FROM ducklake_data_file
           | WHERE table_id = ? AND end_snapshot IS NOT NULL
           |   AND end_snapshot > ? AND data_file_id IN ($in))
           |${dialect.dualFrom}""".stripMargin,
        (Seq(Long.box(tableId), Long.box(baseSnapshot)) ++
          (if (hasInl) Seq(Long.box(baseSnapshot)) else Nil) ++
          Seq(Long.box(tableId), Long.box(baseSnapshot))): _*)(rs =>
        (rs.getLong(1), rs.getLong(2), rs.getLong(3))).head
      if (dels > 0) throw new CommitConflictException(
        "concurrent delete on data files " + detail(
          """SELECT DISTINCT data_file_id FROM ducklake_delete_file
            |WHERE table_id = ? AND begin_snapshot > ?""".stripMargin,
          Long.box(tableId), Long.box(baseSnapshot)))
      if (inls > 0) throw new CommitConflictException(
        "concurrent inlined delete on data files " + detail(
          s"SELECT DISTINCT data_file_id FROM $inlName WHERE begin_snapshot > ?",
          Long.box(baseSnapshot)))
      if (gones > 0) throw new CommitConflictException(
        "data files " + detail(
          """SELECT data_file_id FROM ducklake_data_file
            |WHERE table_id = ? AND end_snapshot IS NOT NULL
            |  AND end_snapshot > ?""".stripMargin,
          Long.box(tableId), Long.box(baseSnapshot)) +
          " were rewritten concurrently")
    }
  }

  /** end inlined-delete rows absorbed by a delete FILE for the same data
    * files (call inside the committing connection) */
  private def absorbInlinedDeletes(c: Connection, tableId: Long,
      snapshotId: Long, dataFileIds: Seq[Long]): Unit = {
    val name = inlinedDeleteTableName(tableId)
    if (dataFileIds.nonEmpty && tableExists(c, name.toUpperCase))
      execBatch(c,
        s"""UPDATE $name SET end_snapshot = ?
           |WHERE data_file_id = ? AND end_snapshot IS NULL""".stripMargin,
        dataFileIds.map(fid => Seq(Long.box(snapshotId), Long.box(fid))))
  }

  /** Commit a small delete as inlined catalog rows — no file written. */
  def appendInlinedDeletes(tableId: Long, baseSnapshot: Long,
      deletes: Seq[(Long, Long)], // (dataFileId, position)
      removedRows: Long,
      endInlinedRowIds: Seq[Long] = Nil): Snapshot =
    commitSnapshot(
      SnapshotChanges(deletedFromTables = Seq(tableId)),
      conflictCheck = (c, _) => checkDeleteConflicts(c, tableId,
        baseSnapshot, deletes.map(_._1).toSet)) { (c, snap, ids) =>
      if (endInlinedRowIds.nonEmpty)
        endInlinedRowsIn(c, snap, ids, tableId, endInlinedRowIds, Nil,
          isFlush = false, explicitRowIdStart = None)
      ensureInlinedDeleteTable(c, tableId)
      execBatch(c,
        s"""INSERT INTO ${inlinedDeleteTableName(tableId)}
           |(data_file_id, row_pos, begin_snapshot, end_snapshot)
           |VALUES (?, ?, ?, NULL)""".stripMargin,
        deletes.map { case (fid, pos) =>
          Seq(Long.box(fid), Long.box(pos), Long.box(snap.snapshotId))
        })
      exec(c,
        "UPDATE ducklake_table_stats SET record_count = record_count - ? WHERE table_id = ?",
        Long.box(removedRows), Long.box(tableId))
    }

  /** Small UPDATE entirely in the catalog (reference
    * data_inlining_update_inline_verification.test): end the old row
    * versions as inlined deletes and insert the rewritten rows into the
    * inlined-data table WITH THEIR ORIGINAL row ids — one snapshot, no
    * new parquet file. Conflicts like any delete on the touched files. */
  def inlineUpdate(tableId: Long, baseSnapshot: Long,
      deletes: Seq[(Long, Long)], // old rows in files: (dataFileId, pos)
      endInlinedIds: Seq[Long], // old rows already inlined: row ids
      reinserts: Seq[(Long, String)]): Snapshot = // (rowId, json)
    commitSnapshot(
      SnapshotChanges(deletedFromTables = Seq(tableId),
        insertedIntoTables = Seq(tableId)),
      conflictCheck = (c, _) => {
        checkDeleteConflicts(c, tableId, baseSnapshot,
          deletes.map(_._1).toSet)
        // inlined victims flushed/deleted concurrently → conflict
        if (endInlinedIds.nonEmpty) {
          val n = query(c,
            s"""SELECT COUNT(*) FROM ${inlinedTableName(tableId)}
               |WHERE end_snapshot IS NOT NULL AND end_snapshot > ?"""
              .stripMargin,
            Long.box(baseSnapshot))(_.getLong(1)).head
          if (n > 0) throw new CommitConflictException(
            s"inlined rows of table $tableId were changed concurrently")
        }
      }) { (c, snap, _) =>
      if (deletes.nonEmpty) {
        ensureInlinedDeleteTable(c, tableId)
        execBatch(c,
          s"""INSERT INTO ${inlinedDeleteTableName(tableId)}
             |(data_file_id, row_pos, begin_snapshot, end_snapshot)
             |VALUES (?, ?, ?, NULL)""".stripMargin,
          deletes.map { case (fid, pos) =>
            Seq(Long.box(fid), Long.box(pos), Long.box(snap.snapshotId))
          })
      }
      endInlinedIds.foreach { rid =>
        exec(c,
          s"""UPDATE ${inlinedTableName(tableId)} SET end_snapshot = ?
             |WHERE row_id = ? AND end_snapshot IS NULL""".stripMargin,
          Long.box(snap.snapshotId), Long.box(rid))
      }
      ensureInlinedTable(c, tableId)
      execBatch(c,
        s"""INSERT INTO ${inlinedTableName(tableId)}
           |(row_id, begin_snapshot, end_snapshot, row_json)
           |VALUES (?, ?, NULL, ?)""".stripMargin,
        reinserts.map { case (rid, j) =>
          Seq(Long.box(rid), Long.box(snap.snapshotId), j)
        })
      // delete -n, reinsert +n: record_count and next_row_id unchanged
    }

  /** live inlined deletes at a snapshot: (data_file_id, position) */
  def liveInlinedDeletes(tableId: Long,
      snapshotId: Long): Seq[(Long, Long)] = withConn { c =>
    val name = inlinedDeleteTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) Nil
    else query(c,
      s"""SELECT data_file_id, row_pos FROM $name
         |WHERE begin_snapshot <= ? AND (end_snapshot IS NULL OR end_snapshot > ?)
         |ORDER BY data_file_id, row_pos""".stripMargin,
      Long.box(snapshotId), Long.box(snapshotId))(rs =>
      (rs.getLong(1), rs.getLong(2)))
  }

  /** inlined deletes created in (start, end] — CDC deletions source:
    * (data_file_id, position, deletion snapshot) */
  def inlinedDeletesCreatedIn(tableId: Long, startSnap: Long,
      endSnap: Long): Seq[(Long, Long, Long)] = withConn { c =>
    val name = inlinedDeleteTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) Nil
    else query(c,
      s"""SELECT data_file_id, row_pos, begin_snapshot FROM $name
         |WHERE begin_snapshot > ? AND begin_snapshot <= ?
         |ORDER BY data_file_id, row_pos""".stripMargin,
      Long.box(startSnap), Long.box(endSnap))(rs =>
      (rs.getLong(1), rs.getLong(2), rs.getLong(3)))
  }

  /** inlined-data rows CREATED in (start, end]: (row_id, begin, json) */
  def inlinedRowsCreatedIn(tableId: Long, startSnap: Long,
      endSnap: Long): Seq[(Long, Long, String)] = withConn { c =>
    val name = inlinedTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) Nil
    else query(c,
      s"""SELECT row_id, begin_snapshot, row_json FROM $name
         |WHERE begin_snapshot > ? AND begin_snapshot <= ?
         |ORDER BY row_id""".stripMargin,
      Long.box(startSnap), Long.box(endSnap))(rs =>
      (rs.getLong(1), rs.getLong(2), rs.getString(3)))
  }

  /** inlined-data row versions ENDED in (start, end]: (row_id,
    * end snapshot, json). Flush-ended rows are NOT deletions — callers
    * filter by the end snapshot's change kinds. */
  def inlinedRowsEndedIn(tableId: Long, startSnap: Long,
      endSnap: Long): Seq[(Long, Long, String)] = withConn { c =>
    val name = inlinedTableName(tableId)
    if (!tableExists(c, name.toUpperCase)) Nil
    else query(c,
      s"""SELECT row_id, end_snapshot, row_json FROM $name
         |WHERE end_snapshot IS NOT NULL
         |  AND end_snapshot > ? AND end_snapshot <= ?
         |ORDER BY row_id""".stripMargin,
      Long.box(startSnap), Long.box(endSnap))(rs =>
      (rs.getLong(1), rs.getLong(2), rs.getString(3)))
  }

  /** snapshot ids in (start, end] whose recorded changes contain
    * `<kind>=[… tableId …]` — e.g. kind = "tables_inserted_into" /
    * "tables_deleted_from". CDC uses this to tell data changes apart
    * from flush/compaction rewrites (reference table_changes; a flush
    * snapshot reports NO changes, data_inlining_flush.test). */
  def changeSnapshots(tableId: Long, startSnap: Long, endSnap: Long,
      kind: String): Set[Long] = withConn { c =>
    query(c,
      """SELECT snapshot_id, changes_made FROM ducklake_snapshot_changes
        |WHERE snapshot_id > ? AND snapshot_id <= ?""".stripMargin,
      Long.box(startSnap), Long.box(endSnap))(rs =>
      (rs.getLong(1), Option(rs.getString(2))))
      .collect { case (sid, Some(ch)) if {
        val i = ch.indexOf(kind + "=[")
        i >= 0 && {
          val j = ch.indexOf(']', i)
          j > i && ch.substring(i + kind.length + 2, j)
            .split(',').map(_.trim).contains(tableId.toString)
        }
      } => sid }.toSet
  }

  /** data files by id regardless of liveness (CDC needs entries for files
    * that were later compacted away) */
  def dataFilesByIds(tableId: Long,
      ids: Set[Long]): Map[Long, DataFileEntry] = withConn { c =>
    if (ids.isEmpty) Map.empty
    else query(c,
      """SELECT data_file_id, begin_snapshot, end_snapshot, file_order,
        |path, record_count, file_size_bytes, row_id_start, partition_id,
        |has_row_ids FROM ducklake_data_file WHERE table_id = ?""".stripMargin,
      Long.box(tableId)) { rs =>
      DataFileEntry(rs.getLong("data_file_id"), tableId,
        rs.getLong("begin_snapshot"), optLong(rs, "end_snapshot"),
        rs.getLong("file_order"), rs.getString("path"),
        rs.getLong("record_count"), rs.getLong("file_size_bytes"),
        rs.getLong("row_id_start"), optLong(rs, "partition_id"),
        hasRowIds = rs.getBoolean("has_row_ids"))
    }.filter(f => ids.contains(f.dataFileId))
      .map(f => f.dataFileId -> f).toMap
  }

  // ------------------------------------------------------------------ views

  def createView(name: String, sql: String, schema: String = "main",
      dialect: String = "spark", orReplace: Boolean = false): Unit =
    commitSnapshot(SnapshotChanges(createdTables = Seq(s"view:$name")),
      schemaChange = true) { (c, snap, ids) =>
      createViewIn(c, snap, ids, name, sql, schema, dialect, orReplace)
    }

  private[catalog] def createViewIn(c: Connection, snap: Snapshot,
      ids: TxnIds, name: String, sql: String, schema: String,
      dialect: String, orReplace: Boolean): Unit = {
    val schemaId = query(c,
      "SELECT schema_id FROM ducklake_schema WHERE schema_name = ? AND end_snapshot IS NULL",
      schema)(_.getLong(1)).head
    // a live TABLE of the same name blocks view creation (reference
    // ducklake_view_table_conflict.test). Probe AT the commit snapshot:
    // tables created earlier in this same commit carry
    // begin_snapshot = snapshotId and must conflict too, while tables
    // dropped earlier in the commit (end_snapshot = snapshotId) must not.
    if (tableByName(c, name, snap.snapshotId, schema).isDefined)
      throw new IllegalArgumentException(
        s"cannot create view $name: a table with this name exists")
    val existing = query(c,
      """SELECT view_id FROM ducklake_view
        |WHERE view_name = ? AND schema_id = ? AND end_snapshot IS NULL"""
        .stripMargin, name, Long.box(schemaId))(_.getLong(1))
    if (existing.nonEmpty) {
      if (!orReplace) throw new IllegalArgumentException(
        s"view $name already exists (use CREATE OR REPLACE VIEW)")
      exec(c,
        "UPDATE ducklake_view SET end_snapshot = ? WHERE view_id = ? AND end_snapshot IS NULL",
        Long.box(snap.snapshotId), Long.box(existing.head))
    }
    exec(c,
      """INSERT INTO ducklake_view (view_id, view_uuid, begin_snapshot,
        |end_snapshot, schema_id, view_name, dialect, sql_text)
        |VALUES (?, ?, ?, NULL, ?, ?, ?, ?)""".stripMargin,
      Long.box(ids.newCatalogId()),
      java.util.UUID.randomUUID().toString, Long.box(snap.snapshotId),
      Long.box(schemaId), name, dialect, sql)
  }

  /** DROP VIEW: closes the live row; time travel before the drop still
    * resolves the view (same lifecycle as tables). */
  def dropView(name: String, schema: String = "main",
      ifExists: Boolean = false): Unit =
    commitSnapshot(SnapshotChanges(droppedTables = Seq(s"view:$name")),
      schemaChange = true) { (c, snap, _) =>
      dropViewIn(c, snap, name, schema, ifExists)
    }

  private[catalog] def dropViewIn(c: Connection, snap: Snapshot,
      name: String, schema: String, ifExists: Boolean): Unit = {
    // existence probe first (reads bypass staged-commit buffering, so
    // the IF EXISTS check works over the HTTP catalog too)
    val ids0 = query(c,
      """SELECT v.view_id FROM ducklake_view v
        |JOIN ducklake_schema s ON v.schema_id = s.schema_id
        |WHERE v.view_name = ? AND s.schema_name = ?
        |  AND v.end_snapshot IS NULL""".stripMargin,
      name, schema)(_.getLong(1))
    if (ids0.isEmpty) {
      if (!ifExists) throw new IllegalArgumentException(s"no view $name")
    } else exec(c,
      "UPDATE ducklake_view SET end_snapshot = ? WHERE view_id = ? AND end_snapshot IS NULL",
      Long.box(snap.snapshotId), Long.box(ids0.head))
  }

  /** ALTER VIEW … RENAME TO (reference ducklake_rename_view.test): the
    * old row closes, a new row opens with the SAME view_id/uuid/sql so
    * identity and time travel behave exactly like table renames. */
  def renameView(oldName: String, newName: String,
      schema: String = "main"): Unit =
    commitSnapshot(SnapshotChanges(
      createdTables = Seq(s"view:$newName"),
      droppedTables = Seq(s"view:$oldName"),
      commitMessage = Some(s"rename view $oldName to $newName")),
      schemaChange = true) { (c, snap, _) =>
      renameViewIn(c, snap, oldName, newName, schema)
    }

  private[catalog] def renameViewIn(c: Connection, snap: Snapshot,
      oldName: String, newName: String, schema: String): Unit = {
      // target-name conflicts: an existing live view or table blocks the
      // rename (same guards as CREATE VIEW); re-runs on commit retries so
      // a racing CREATE of the target name surfaces
      if (query(c,
        """SELECT 1 FROM ducklake_view v
          |JOIN ducklake_schema s ON v.schema_id = s.schema_id
          |WHERE v.view_name = ? AND s.schema_name = ?
          |  AND v.end_snapshot IS NULL""".stripMargin,
        newName, schema)(_.getInt(1)).nonEmpty)
        throw new IllegalArgumentException(
          s"cannot rename view $oldName: view $newName already exists")
      // probe AT the commit snapshot so tables created earlier in this
      // same commit conflict and same-commit drops don't (see createViewIn)
      if (tableByName(c, newName, snap.snapshotId, schema).isDefined)
        throw new IllegalArgumentException(
          s"cannot rename view $oldName: a table named $newName exists")
      val row = query(c,
        """SELECT v.view_id, v.view_uuid, v.schema_id, v.dialect, v.sql_text
          |FROM ducklake_view v
          |JOIN ducklake_schema s ON v.schema_id = s.schema_id
          |WHERE v.view_name = ? AND s.schema_name = ?
          |  AND v.end_snapshot IS NULL""".stripMargin,
        oldName, schema)(rs => (rs.getLong(1), rs.getString(2),
        rs.getLong(3), rs.getString(4), rs.getString(5))).headOption
        .getOrElse(throw new IllegalArgumentException(s"no view $oldName"))
      exec(c,
        "UPDATE ducklake_view SET end_snapshot = ? WHERE view_id = ? AND end_snapshot IS NULL",
        Long.box(snap.snapshotId), Long.box(row._1))
      exec(c,
        """INSERT INTO ducklake_view (view_id, view_uuid, begin_snapshot,
          |end_snapshot, schema_id, view_name, dialect, sql_text)
          |VALUES (?, ?, ?, NULL, ?, ?, ?, ?)""".stripMargin,
        Long.box(row._1), row._2, Long.box(snap.snapshotId),
        Long.box(row._3), newName, row._4, row._5)
    }

  /** All live views at a snapshot: (name, sql_text). */
  def listViews(snapshotId: Long,
      schema: String = "main"): Seq[(String, String)] = withConn { c =>
    query(c,
      """SELECT v.view_name, v.sql_text FROM ducklake_view v
        |JOIN ducklake_schema s ON v.schema_id = s.schema_id
        |WHERE s.schema_name = ? AND v.begin_snapshot <= ?
        |  AND (v.end_snapshot IS NULL OR v.end_snapshot > ?)""".stripMargin,
      schema, Long.box(snapshotId), Long.box(snapshotId))(rs =>
      (rs.getString(1), rs.getString(2)))
  }

  def viewByName(name: String, snapshotId: Long,
      schema: String = "main"): Option[String] = withConn { c =>
    query(c,
      """SELECT v.sql_text FROM ducklake_view v
        |JOIN ducklake_schema s ON v.schema_id = s.schema_id
        |WHERE v.view_name = ? AND s.schema_name = ? AND v.begin_snapshot <= ?
        |  AND (v.end_snapshot IS NULL OR v.end_snapshot > ?)""".stripMargin,
      name, schema, Long.box(snapshotId), Long.box(snapshotId))(
      _.getString(1)).headOption
  }

  // ---------------------------------------------------------------- macros

  /** SQL macros, stored multi-dialect like the reference (ducklake_macro /
    * _impl / _parameters, metadata_manager.cpp:284-290). One macro row per
    * CREATE MACRO statement; N implementation rows (overloads by arity,
    * test_multiple_implementations.test) keyed by (macro_id,
    * macro_impl_id); parameters per implementation, with optional `:=`
    * defaults (test_default_parameter.test). Scalar and table macros may
    * share a name (test_scalar_table_macros.test) — they land as separate
    * macro rows and DROP MACRO [TABLE] targets its own kind. */
  def createMacro(name: String, impls: Seq[MacroImpl],
      dialect: String = "spark", orReplace: Boolean = false): Unit =
    commitSnapshot(SnapshotChanges(createdTables = Seq(
      s"${if (impls.exists(_.isTable)) "tmacro" else "macro"}:$name")),
      schemaChange = true) { (c, snap, ids) =>
      createMacroIn(c, snap, ids, name, impls, dialect, orReplace)
    }

  /** Macro-create body, shared by the immediate path and the buffered
    * transaction commit (test_macro_transactions.test). */
  private[catalog] def createMacroIn(c: Connection, snap: Snapshot,
      ids: TxnIds, name: String, impls: Seq[MacroImpl],
      dialect: String = "spark", orReplace: Boolean = false): Unit = {
    require(impls.nonEmpty, "macro needs at least one implementation")
    require(impls.map(_.params.length).distinct.length == impls.length,
      s"macro $name: duplicate implementation arity")
    val isTable = impls.head.isTable
    val existing = liveMacroIds(c, name, isTable)
    if (existing.nonEmpty) {
      if (!orReplace) throw new IllegalArgumentException(
        s"""Macro Function with name "$name" already exists""")
      existing.foreach(mid => exec(c,
        "UPDATE ducklake_macro SET end_snapshot = ? WHERE macro_id = ?",
        Long.box(snap.snapshotId), Long.box(mid)))
    }
    val mid = ids.newCatalogId()
    exec(c,
      """INSERT INTO ducklake_macro (macro_id, schema_id, macro_name,
        |begin_snapshot, end_snapshot, is_table_macro)
        |VALUES (?, 0, ?, ?, NULL, ?)""".stripMargin,
      Long.box(mid), name, Long.box(snap.snapshotId),
      Boolean.box(isTable))
    impls.zipWithIndex.foreach { case (impl, implId) =>
      exec(c,
        """INSERT INTO ducklake_macro_impl (macro_id, macro_impl_id,
          |dialect, body, macro_type) VALUES (?, ?, ?, ?, ?)""".stripMargin,
        Long.box(mid), Long.box(implId.toLong), dialect, impl.body,
        if (impl.isTable) "table" else "scalar")
      impl.params.zipWithIndex.foreach { case ((p, dflt), i) =>
        exec(c,
          """INSERT INTO ducklake_macro_parameters (macro_id,
            |macro_impl_id, parameter_index, parameter_name,
            |parameter_type, default_value, default_type)
            |VALUES (?, ?, ?, ?, ?, ?, 'unknown')""".stripMargin,
          Long.box(mid), Long.box(implId.toLong), Long.box(i.toLong), p,
          impl.paramTypes.lift(i).getOrElse("unknown"), dflt.orNull)
      }
    }
  }

  // currently-live check (end IS NULL), not as-of-snapshot: inside one
  // commit body a DROP+CREATE sequence must see the drop it just applied
  private def liveMacroIds(c: Connection, name: String,
      isTable: Boolean): Seq[Long] =
    query(c,
      """SELECT macro_id FROM ducklake_macro
        |WHERE macro_name = ? AND is_table_macro = ?
        |  AND end_snapshot IS NULL""".stripMargin,
      name, Boolean.box(isTable))(_.getLong(1))

  /** DROP MACRO [TABLE] name: ends the live macro of the given kind. */
  def dropMacro(name: String, isTable: Boolean,
      ifExists: Boolean = false): Unit =
    commitSnapshot(SnapshotChanges(droppedTables = Seq(
      s"${if (isTable) "tmacro" else "macro"}:$name")),
      schemaChange = true) { (c, snap, _) =>
      dropMacroIn(c, snap, name, isTable, ifExists)
    }

  private[catalog] def dropMacroIn(c: Connection, snap: Snapshot,
      name: String, isTable: Boolean, ifExists: Boolean): Unit = {
    val mids = liveMacroIds(c, name, isTable)
    if (mids.isEmpty && !ifExists) throw new IllegalArgumentException(
      s"no ${if (isTable) "table " else ""}macro named $name")
    mids.foreach(mid => exec(c,
      "UPDATE ducklake_macro SET end_snapshot = ? WHERE macro_id = ?",
      Long.box(snap.snapshotId), Long.box(mid)))
  }

  /** All live implementations of `name` at a snapshot, across macro rows
    * (a scalar and a table macro of one name coexist). */
  def macroImplsByName(name: String, snapshotId: Long,
      dialect: String = "spark"): Seq[MacroImpl] =
    withConn { c =>
      val mids = query(c,
        """SELECT macro_id FROM ducklake_macro
          |WHERE macro_name = ? AND begin_snapshot <= ?
          |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
        name, Long.box(snapshotId), Long.box(snapshotId))(_.getLong(1))
      mids.flatMap { mid =>
        query(c,
          """SELECT macro_impl_id, body, macro_type FROM ducklake_macro_impl
            |WHERE macro_id = ? AND dialect = ?
            |ORDER BY macro_impl_id""".stripMargin,
          Long.box(mid), dialect) { rs =>
          (rs.getLong(1), rs.getString(2), rs.getString(3))
        }.map { case (implId, body, tpe) =>
          val params = query(c,
            """SELECT parameter_name, default_value
              |FROM ducklake_macro_parameters
              |WHERE macro_id = ? AND macro_impl_id = ?
              |ORDER BY parameter_index""".stripMargin,
            Long.box(mid), Long.box(implId)) { rs =>
            (rs.getString(1), Option(rs.getString(2)))
          }
          MacroImpl(params, body, tpe == "table")
        }
      }
    }

  /** (params, body) of a live macro at a snapshot — first implementation
    * (legacy single-impl surface). */
  def macroByName(name: String, snapshotId: Long,
      dialect: String = "spark"): Option[(Seq[String], String)] =
    macroImplsByName(name, snapshotId, dialect).headOption
      .map(i => (i.params.map(_._1), i.body))

  def listMacros(snapshotId: Long): Seq[String] = withConn { c =>
    query(c,
      """SELECT DISTINCT macro_name FROM ducklake_macro
        |WHERE begin_snapshot <= ?
        |  AND (end_snapshot IS NULL OR end_snapshot > ?)""".stripMargin,
      Long.box(snapshotId), Long.box(snapshotId))(_.getString(1))
  }

  // ---------------------------------------------------------------- options

  /** Scoped key/value options (reference ducklake_set_option.cpp). */
  // ---------------------------------------------------------- name mappings

  /** Register a name→column_id mapping for foreign files
    * (ducklake_add_data_files; reference ducklake_name_map.cpp +
    * WriteNewColumnMappings, ducklake_metadata_manager.cpp:4192-4216). */
  def createNameMapping(tableId: Long,
      entries: Seq[(String, Long, Boolean)]): Long = withConn { c =>
    val mid = qLong(c,
      "SELECT MAX(mapping_id) FROM ducklake_column_mapping")
      .getOrElse(0L) + 1
    exec(c,
      "INSERT INTO ducklake_column_mapping (mapping_id, table_id, type) VALUES (?, ?, 'map_by_name')",
      Long.box(mid), Long.box(tableId))
    entries.foreach { case (src, columnId, isPartition) =>
      exec(c,
        """INSERT INTO ducklake_name_mapping (mapping_id, column_id,
          |source_name, target_field_id, parent_column, is_partition)
          |VALUES (?, ?, ?, ?, NULL, ?)""".stripMargin,
        Long.box(mid), Long.box(columnId), src, Long.box(columnId),
        Boolean.box(isPartition))
    }
    mid
  }

  /** (source_name, column_id, is_partition) rows of a mapping;
    * is_partition entries are served from the file path's hive segments
    * at scan time (reference ducklake_multi_file_reader.cpp:449-467). */
  def nameMapping(mappingId: Long): Seq[(String, Long, Boolean)] =
    withConn { c =>
      query(c,
        """SELECT source_name, column_id, is_partition
          |FROM ducklake_name_mapping
          |WHERE mapping_id = ?""".stripMargin,
        Long.box(mappingId))(rs =>
        (rs.getString(1), rs.getLong(2), rs.getBoolean(3)))
    }

  def setOption(key: String, value: String, scope: Option[String] = None,
      scopeId: Option[Long] = None): Unit = withConn { c =>
    if (readOnly) throw new UnsupportedOperationException(
      "Cannot write to attached database: the lake is attached in " +
        "read-only mode")
    exec(c,
      """DELETE FROM ducklake_metadata WHERE mkey = ?
        |AND ((scope IS NULL AND ? IS NULL) OR scope = ?)
        |AND ((scope_id IS NULL AND ? IS NULL) OR scope_id = ?)""".stripMargin,
      key, scope.orNull, scope.orNull, scopeId.map(Long.box).orNull,
      scopeId.map(Long.box).orNull)
    exec(c,
      "INSERT INTO ducklake_metadata (mkey, mvalue, scope, scope_id) VALUES (?, ?, ?, ?)",
      key, value, scope.orNull, scopeId.map(Long.box).orNull)
  }

  def getOption(key: String): Option[String] = withConn { c =>
    query(c,
      "SELECT mvalue FROM ducklake_metadata WHERE mkey = ? AND scope IS NULL",
      key)(_.getString(1)).headOption
  }

  /** scoped option (reference ducklake_set_option table_name=> scope):
    * e.g. scope='table', scopeId=table_id */
  def getOptionScoped(key: String, scope: String,
      scopeId: Long): Option[String] = withConn { c =>
    query(c,
      "SELECT mvalue FROM ducklake_metadata WHERE mkey = ? AND scope = ? AND scope_id = ?",
      key, scope, Long.box(scopeId))(_.getString(1)).headOption
  }

  def options(): Seq[(String, String)] = withConn { c =>
    query(c, "SELECT mkey, mvalue FROM ducklake_metadata ORDER BY mkey")(rs =>
      (rs.getString(1), rs.getString(2)))
  }

  /** all table-scoped values of one option key → (table_id, value);
    * used to find the managed views defined over a base table */
  def tableScopedOptions(key: String): Seq[(Long, String)] = withConn { c =>
    query(c,
      """SELECT scope_id, mvalue FROM ducklake_metadata
        |WHERE mkey = ? AND scope = 'table' ORDER BY scope_id""".stripMargin,
      key)(rs => (rs.getLong(1), rs.getString(2)))
  }

  /** comments/tags on catalog objects (ducklake_tag). */
  /** `value = null` clears the tag (COMMENT ON ... IS NULL). */
  def setTag(objectId: Long, key: String, value: String): Unit =
    withConn { c =>
      val snap = currentSnapshot(c).snapshotId
      exec(c,
        "UPDATE ducklake_tag SET end_snapshot = ? WHERE object_id = ? AND tag_key = ? AND end_snapshot IS NULL",
        Long.box(snap), Long.box(objectId), key)
      if (value != null) exec(c,
        """INSERT INTO ducklake_tag (object_id, begin_snapshot, end_snapshot,
          |tag_key, tag_value) VALUES (?, ?, NULL, ?, ?)""".stripMargin,
        Long.box(objectId), Long.box(snap), key, value)
    }

  /** per-column tags (ducklake_column_tag) — COMMENT ON COLUMN lives
    * here under key 'comment' (reference comments/ tests); null clears. */
  def setColumnTag(tableId: Long, columnId: Long, key: String,
      value: String): Unit = withConn { c =>
    val snap = currentSnapshot(c).snapshotId
    exec(c,
      "UPDATE ducklake_column_tag SET end_snapshot = ? WHERE table_id = ? AND column_id = ? AND tag_key = ? AND end_snapshot IS NULL",
      Long.box(snap), Long.box(tableId), Long.box(columnId), key)
    if (value != null) exec(c,
      """INSERT INTO ducklake_column_tag (table_id, column_id,
        |begin_snapshot, end_snapshot, tag_key, tag_value)
        |VALUES (?, ?, ?, NULL, ?, ?)""".stripMargin,
      Long.box(tableId), Long.box(columnId), Long.box(snap), key, value)
  }

  def getColumnTag(tableId: Long, columnId: Long,
      key: String): Option[String] = withConn { c =>
    query(c,
      "SELECT tag_value FROM ducklake_column_tag WHERE table_id = ? AND column_id = ? AND tag_key = ? AND end_snapshot IS NULL",
      Long.box(tableId), Long.box(columnId), key)(_.getString(1)).headOption
  }

  /** View column tags (format v1.1 ducklake_view_column_tag): views have
    * no column ids, so tags key by OUTPUT COLUMN NAME — reference
    * MigrateV10 table shape. */
  def setViewColumnTag(viewId: Long, column: String, key: String,
      value: String): Unit = withConn { c =>
    val snap = currentSnapshot(c).snapshotId
    exec(c,
      "UPDATE ducklake_view_column_tag SET end_snapshot = ? WHERE view_id = ? AND column_name = ? AND tag_key = ? AND end_snapshot IS NULL",
      Long.box(snap), Long.box(viewId), column, key)
    if (value != null) exec(c,
      """INSERT INTO ducklake_view_column_tag (view_id, column_name,
        |begin_snapshot, end_snapshot, tag_key, tag_value)
        |VALUES (?, ?, ?, NULL, ?, ?)""".stripMargin,
      Long.box(viewId), column, Long.box(snap), key, value)
  }

  def getViewColumnTag(viewId: Long, column: String,
      key: String): Option[String] = withConn { c =>
    query(c,
      "SELECT tag_value FROM ducklake_view_column_tag WHERE view_id = ? AND column_name = ? AND tag_key = ? AND end_snapshot IS NULL",
      Long.box(viewId), column, key)(_.getString(1)).headOption
  }

  def viewIdByName(name: String, snapshotId: Long,
      schema: String = "main"): Option[Long] = withConn { c =>
    query(c,
      """SELECT v.view_id FROM ducklake_view v
        |JOIN ducklake_schema s ON v.schema_id = s.schema_id
        |WHERE v.view_name = ? AND s.schema_name = ? AND v.begin_snapshot <= ?
        |  AND (v.end_snapshot IS NULL OR v.end_snapshot > ?)""".stripMargin,
      name, schema, Long.box(snapshotId), Long.box(snapshotId))(
      _.getLong(1)).headOption
  }

  def getTag(objectId: Long, key: String): Option[String] = withConn { c =>
    query(c,
      "SELECT tag_value FROM ducklake_tag WHERE object_id = ? AND tag_key = ? AND end_snapshot IS NULL",
      Long.box(objectId), key)(_.getString(1)).headOption
  }
}

object MetadataManager {
  /** Current metadata format version — the reference's own version label
    * (ducklake_version.cpp: 0.3 → 0.4 → 1.0 → 1.1-dev1), so a reference
    * reader attaching this catalog recognizes it. v1.1 brings
    * row_group_count on both file tables, ducklake_view_column_tag, and
    * extra_stats; in-place migrations upgrade catalogs labeled
    * 0.3/0.4/1.0 (reference writers) and 0.5 (this repo's earlier
    * rounds, schema-equivalent to 1.0+extra_stats). */
  val FormatVersion = "1.1-dev1"

  /** Embedded-Derby URL for a catalog directory. */
  def derbyUrl(dir: String): String = s"jdbc:derby:$dir;create=true"

  /** Shut an embedded Derby database down (flushes its log, frees its
    * file handles); any other URL is left alone. */
  def shutdownDerby(jdbcUrl: String): Unit =
    if (jdbcUrl.startsWith("jdbc:derby:")) {
      val base = jdbcUrl.stripSuffix(";create=true")
      try { DriverManager.getConnection(s"$base;shutdown=true"); () }
      catch {
        case e: SQLException if e.getSQLState == "08006" => () // expected
        case _: SQLException => ()
      }
    }
}
