package graft.catalog

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The DuckDB-only statements of [[Lake.sql]] — the spellings Spark's
  * parser cannot take: DuckDB-typed CREATE TABLE and ALTER, SECRET,
  * MACRO, SET/RESET SORTED BY and PARTITIONED BY, COMMENT ON,
  * BEGIN/COMMIT/ROLLBACK, CHECKPOINT, DESCRIBE/SHOW, and DuckDB-style
  * `CALL` argument text bound to [[graft.sources.GraftProcedures]].
  * Queries and INSERT/DELETE/UPDATE/MERGE run as `spark.sql` runs them
  * ([[Lake.sql]]). Scalar expressions use Spark SQL syntax — the "spark"
  * dialect of the stored-view/macro model. Results follow DuckDB's
  * convention of an affected-row "Count" column.
  */
private[catalog] object LakeSql {

  private val Ctas =
    """(?is)^CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w$.]+)\s+AS\s+(.+)$""".r
  private val CreateTable =
    """(?is)^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w$.]+)\s*\((.+)\)\s*$""".r
  private val DropTable =
    """(?is)^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w$.]+)\s*$""".r
  private val CreateSchema =
    """(?is)^CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w$]+)\s*$""".r
  private val DropSchema =
    """(?is)^DROP\s+SCHEMA\s+([\w$]+)\s*$""".r
  private val CreateView =
    """(?is)^CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w$.]+)\s+AS\s+(.+)$""".r
  private val DropView =
    """(?is)^DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w$.]+)$""".r
  private val RenameTable =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+RENAME\s+TO\s+([\w$]+)\s*$""".r
  private val RenameView =
    """(?is)^ALTER\s+VIEW\s+([\w$.]+)\s+RENAME\s+TO\s+([\w$.]+)\s*$""".r
  private val RenameColumn =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+RENAME\s+(?:COLUMN\s+)?([\w$.]+)\s+TO\s+([\w$]+)\s*$""".r
  private val AddColumn =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ADD\s+(?:COLUMN|FIELD)\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w$.]+)\s+(.+?)(?:\s+DEFAULT\s+(.+))?\s*$""".r
  private val DropColumn =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+DROP\s+(?:COLUMN|FIELD)\s+([\w$.]+)\s*$""".r
  private val AlterType =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ALTER\s+(?:COLUMN\s+)?([\w$]+)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\s*$""".r
  private val SetDefault =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ALTER\s+(?:COLUMN\s+)?([\w$]+)\s+SET\s+DEFAULT\s+(.+?)\s*$""".r
  private val DropDefault =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ALTER\s+(?:COLUMN\s+)?([\w$]+)\s+DROP\s+DEFAULT\s*$""".r
  private val SetNotNull =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ALTER\s+(?:COLUMN\s+)?([\w$]+)\s+SET\s+NOT\s+NULL\s*$""".r
  private val DropNotNull =
    """(?is)^ALTER\s+TABLE\s+([\w$]+)\s+ALTER\s+(?:COLUMN\s+)?([\w$]+)\s+DROP\s+NOT\s+NULL\s*$""".r
  private val SetSortedBy =
    """(?is)^ALTER\s+TABLE\s+([\w$.]+)\s+SET\s+SORTED\s+BY\s*\((.+)\)\s*$""".r
  private val ResetSortedBy =
    """(?is)^ALTER\s+TABLE\s+([\w$.]+)\s+RESET\s+SORTED\s+BY\s*;?\s*$""".r
  private val SetPartitionedBy =
    """(?is)^ALTER\s+TABLE\s+([\w$.]+)\s+SET\s+PARTITIONED\s+BY\s*\((.+)\)\s*$""".r
  private val ResetPartitionedBy =
    """(?is)^ALTER\s+TABLE\s+([\w$.]+)\s+RESET\s+PARTITIONED\s+BY\s*;?\s*$""".r
  private val CommentOn =
    """(?is)^COMMENT\s+ON\s+(TABLE|VIEW|COLUMN)\s+([\w$.]+)\s+IS\s+(.+?)\s*$""".r
  private val Call =
    """(?is)^CALL\s+(?:ducklake[._])?(\w+)\s*\(([^)]*)\)\s*$""".r
  private val CreateSecret =
    """(?is)^CREATE\s+(OR\s+REPLACE\s+)?SECRET\s+([\w$]+)\s*\((.+)\)\s*$""".r
  private val DropSecret =
    """(?is)^DROP\s+SECRET\s+([\w$]+)\s*$""".r
  private val Begin =
    """(?is)^(?:BEGIN|START)(?:\s+TRANSACTION)?\s*$""".r
  private val Commit = """(?is)^COMMIT\s*$""".r
  private val Rollback = """(?is)^(?:ROLLBACK|ABORT)\s*$""".r
  private val Checkpoint = """(?is)^(?:FORCE\s+)?CHECKPOINT\s*$""".r
  private val CreateMacro =
    """(?is)^CREATE\s+(OR\s+REPLACE\s+)?MACRO\s+([\w$.]+)\s*(\(.+)$""".r
  private val Describe =
    """(?is)^DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w$.]+)\s*$""".r
  private val ShowTables =
    """(?is)^SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w$]+))?\s*$""".r
  private val ShowViews =
    """(?is)^SHOW\s+VIEWS(?:\s+(?:FROM|IN)\s+([\w$]+))?\s*$""".r
  private val DropMacro =
    """(?is)^DROP\s+MACRO\s+(TABLE\s+)?(IF\s+EXISTS\s+)?([\w$.]+)\s*$""".r

  private val BareInsert = """(?is)\bTHEN\s+INSERT(?=\s*(?:$|WHEN\b))""".r

  /** DuckDB's bare MERGE `THEN INSERT` (every column) in Spark's
    * spelling, `THEN INSERT *`, for the statement path Spark parses. */
  def sparkDml(stmt: String): String =
    BareInsert.replaceAllIn(stmt, "THEN INSERT *")

  /** Try to handle `stmt` as a DuckDB-only statement; None → a query or
    * DML for `run`, which also runs a CTAS's query. */
  def dispatch(lake: Lake, spark: SparkSession, stmt: String,
      run: String => DataFrame): Option[DataFrame] = {
    import spark.implicits._
    def count(n: Long): DataFrame = Seq(n).toDF("Count")

    stmt match {
      case CreateSecret(orReplace, name, body) => Some {
        // CREATE SECRET name (TYPE S3, KEY_ID 'k', SECRET 's',
        //   SCOPE 's3a://bucket/') — reference ducklake_secret.cpp /
        // test/sql/secrets syntax
        val kv = splitTop(body).map(_.trim).filter(_.nonEmpty).map { e =>
          val i = e.indexWhere(ch => ch == ' ' || ch == '\t')
          require(i > 0, s"bad secret parameter: $e")
          (e.substring(0, i).trim.toLowerCase(Locale.ROOT),
            stripQuotes(e.substring(i + 1).trim))
        }.toMap
        val tpe = kv.getOrElse("type", "generic")
        val scope = kv.get("scope").toSeq.flatMap(_.split(';'))
          .filter(_.nonEmpty)
        Secrets.create(Secrets.Secret(name, tpe,
          kv - "type" - "scope", scope),
          orReplace = orReplace != null)
        count(1)
      }

      case DropSecret(name) => Some { Secrets.drop(name); count(1) }

      case Ctas(orReplace, tbl, query) => Some {
        if (orReplace != null)
          try lake.dropTable(tbl) catch { case _: IllegalArgumentException => }
        val df = run(query)
        lake.createTableAs(tbl, df)
        count(lake.table(tbl).count())
      }

      case CreateTable(ifNotExists, tbl, colDefs) => Some {
        val fields = splitTop(colDefs, angle = true).map(parseColumnDef)
        lake.createTable(tbl, StructType(fields.map(_._1)),
          ifNotExists = ifNotExists != null)
        fields.foreach { case (f, default) =>
          default.foreach(d => lake.setColumnDefault(tbl, f.name, d))
        }
        count(0L)
      }

      case DropTable(tbl) => Some { lake.dropTable(tbl); count(0L) }

      // maintenance table functions as CALLs (reference registers them in
      // ducklake_extension.cpp:53-126; CALL ducklake.merge_adjacent_files
      // etc.)
      case Call(fn, rawArgs) => Some(count(call(lake, fn, rawArgs)))

      // CREATE [OR REPLACE] MACRO name (a, b := 5) AS body
      //   [, (a) AS body, …]            — arity overloads
      //   | (a, n) AS TABLE SELECT …    — table macro, used in FROM
      // (reference test/sql/macros corpus)
      case CreateMacro(orReplace, name, rest) => Some {
        lake.createMacro(name, parseMacroImpls(rest), orReplace != null)
        count(0L)
      }
      case DropMacro(tableKw, ifExists, name) => Some {
        lake.dropMacro(name, isTable = tableKw != null,
          ifExists = ifExists != null)
        count(0L)
      }

      // introspection statements the reference inherits from its host
      // engine: DESCRIBE in DuckDB's six-column shape, SHOW TABLES/VIEWS
      case Describe(tbl) => Some {
        val snap = lake.meta.currentSnapshot()
        val (schemaName, baseName) =
          if (tbl.contains('.'))
            (tbl.split('.').head, tbl.split('.').last)
          else ("main", tbl)
        lake.meta.tableByName(baseName, snap.snapshotId, schemaName) match {
          case Some(t) =>
            lake.meta.columnsOf(t.tableId, snap.snapshotId)
              .filter(_.parentColumn.isEmpty).sortBy(_.columnOrder)
              .map(c => (c.name, DuckLakeTypes.displayName(c.typeString),
                if (c.nullsAllowed) "YES" else "NO",
                null: String, c.defaultValue.orNull, null: String))
              .toDF("column_name", "column_type", "null", "key", "default",
                "extra")
          case None if lake.meta.viewByName(baseName, snap.snapshotId,
              schemaName).isDefined =>
            // views describe through their resolved schema
            lake.view(tbl).schema.fields.toSeq.map(f =>
              (f.name, DuckLakeTypes.displayName(
                DuckLakeTypes.toTypeString(f.dataType)),
                if (f.nullable) "YES" else "NO",
                null: String, null: String, null: String))
              .toDF("column_name", "column_type", "null", "key", "default",
                "extra")
          case None =>
            throw new IllegalArgumentException(s"no table $tbl")
        }
      }
      case ShowTables(schema) => Some {
        // txn-aware: buffered creates/drops/renames show their effects
        // to the txn's own statements (reference rename_entity.test)
        lake.visibleTableNames(Option(schema).getOrElse("main"))
          .sorted.toDF("name")
      }
      case ShowViews(schema) => Some {
        // txn-aware like SHOW TABLES (buffered view DDL overlays)
        lake.visibleViews(Option(schema).getOrElse("main"))
          .values.map(_._1).toSeq.sorted.toDF("name")
      }

      // bare CHECKPOINT runs the maintenance pipeline on every table,
      // skipping views (reference view_checkpoint.test); inside an open
      // transaction it is a no-op like the reference's wal-checkpoint
      // (checkpoint_updates_interleaved.test — the txn's own state is
      // untouched and commits normally)
      case Checkpoint() => Some {
        if (!lake.inTransaction) {
          val sid = lake.currentSnapshotId()
          lake.meta.listSchemas().foreach { sc =>
            lake.meta.listTables(sid, sc.name).foreach { t =>
              lake.checkpoint(
                if (sc.name == "main") t.name else s"${sc.name}.${t.name}")
            }
          }
        }
        count(0L)
      }
      case Begin() => Some { lake.begin(); count(0L) }
      case Commit() => Some { lake.commit(); count(0L) }
      case Rollback() => Some { lake.rollback(); count(0L) }

      case CreateSchema(sc) => Some { lake.createSchema(sc); count(0L) }
      case DropSchema(sc) => Some { lake.dropSchema(sc); count(0L) }

      case CreateView(orReplace, v, query) => Some {
        lake.createView(v, query, orReplace = orReplace != null); count(0L)
      }
      case DropView(ifExists, v) => Some {
        lake.dropView(v, ifExists = ifExists != null); count(0L)
      }

      case RenameView(oldName, newName) => Some {
        lake.renameView(oldName, newName); count(0L)
      }
      case RenameTable(oldName, newName) => Some {
        lake.renameTable(oldName, newName); count(0L)
      }

      case RenameColumn(tbl, path, newName) => Some {
        if (path.contains(".")) lake.renameField(tbl, path, newName)
        else lake.renameColumn(tbl, path, newName)
        count(0L)
      }

      case AddColumn(tbl, path, typeDdl, defaultOpt) => Some {
        val (field, inlineDefault) = parseColumnDef(
          s"${path.split("\\.").last} $typeDdl") match {
          case (f, d) => (f, d)
        }
        val default = Option(defaultOpt).map(stripQuotes).orElse(inlineDefault)
        if (path.contains(".")) {
          val segs = path.split("\\.")
          lake.addField(tbl, segs.init.mkString("."), field)
        } else lake.addColumn(tbl, field, default)
        count(0L)
      }

      case DropColumn(tbl, path) => Some {
        if (path.contains(".")) lake.dropField(tbl, path)
        else lake.dropColumn(tbl, path)
        count(0L)
      }

      case AlterType(tbl, colName, typeDdl) => Some {
        lake.changeColumnType(tbl, colName,
          StructType.fromDDL(s"x $typeDdl").head.dataType)
        count(0L)
      }

      case SetDefault(tbl, colName, default) => Some {
        lake.setColumnDefault(tbl, colName, stripQuotes(default)); count(0L)
      }
      case DropDefault(tbl, colName) => Some {
        lake.setColumnDefault(tbl, colName, null); count(0L)
      }
      case SetNotNull(tbl, colName) => Some {
        lake.setNotNull(tbl, colName); count(0L)
      }
      case DropNotNull(tbl, colName) => Some {
        lake.dropNotNull(tbl, colName); count(0L)
      }

      // SET SORTED BY (expr [ASC|DESC] [NULLS FIRST|LAST], ...) — sort
      // keys may be arbitrary expressions (reference sorted_table family,
      // incl. st_hilbert space-filling-curve sorting)
      case SetSortedBy(tbl, keys) => Some {
        val parsed = splitTop(keys).map { k0 =>
          var k = k0.trim
          var nulls = "nulls_last" // DuckDB default
          val nm = "(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$".r
          nm.findFirstMatchIn(k).foreach { m =>
            nulls = s"nulls_${m.group(1).toLowerCase(Locale.ROOT)}"
            k = k.substring(0, m.start).trim
          }
          var ord = "asc"
          val om = "(?is)\\s+(ASC|DESC)\\s*$".r
          om.findFirstMatchIn(k).foreach { m =>
            ord = m.group(1).toLowerCase(Locale.ROOT)
            k = k.substring(0, m.start).trim
          }
          (k, ord, nulls)
        }
        lake.setSortedByFull(tbl, parsed); count(0L)
      }
      case ResetSortedBy(tbl) => Some { lake.resetSortedBy(tbl); count(0L) }

      // SET PARTITIONED BY (bucket(4, k), year(ts), col, ...) — bare
      // column = identity (reference partitioning family)
      case SetPartitionedBy(tbl, keys) => Some {
        val Fn = """(?is)^(\w+)\s*\(\s*(.+?)\s*\)$""".r
        val specs = splitTop(keys).map(_.trim).map {
          case Fn(fn, args) => fn.toLowerCase(Locale.ROOT) match {
            case "bucket" => splitTop(args).map(_.trim) match {
              case Seq(w, colName) => (colName, s"bucket($w)")
              case other => throw new IllegalArgumentException(
                s"bucket(width, column) expects 2 args, got $other")
            }
            case t @ ("year" | "month" | "day" | "hour") => (args.trim, t)
            case other => throw new IllegalArgumentException(
              s"unknown partition transform $other")
          }
          case colName => (colName, "identity")
        }
        lake.setPartitionedBy(tbl, specs); count(0L)
      }
      case ResetPartitionedBy(tbl) => Some {
        lake.resetPartitionedBy(tbl); count(0L)
      }

      // COMMENT ON TABLE/VIEW/COLUMN ... IS 'text' | NULL (reference
      // comments family; stored as versioned 'comment' tags)
      case CommentOn(kind, target, v) => Some {
        val value =
          if (v.trim.equalsIgnoreCase("NULL")) null else stripQuotes(v.trim)
        if (kind.equalsIgnoreCase("COLUMN")) {
          val segs = target.split("\\.")
          require(segs.length >= 2, s"COMMENT ON COLUMN needs table.column")
          // first segment is the table; a leading schema qualifier falls
          // back to schema.table when no table of that name exists
          try lake.commentOnColumn(segs.head, segs.tail.mkString("."), value)
          catch {
            case _: IllegalArgumentException if segs.length >= 3 =>
              lake.commentOnColumn(segs.take(2).mkString("."),
                segs.drop(2).mkString("."), value)
          }
        } else lake.commentOn(target, value)
        count(0L)
      }

      case _ => None
    }
  }

  /** `CALL fn(args)`: DuckDB-style argument text — positional or
    * `name => value`; quoted strings with `''` escapes, NULL, `['a','b']`
    * lists — bound to the procedure's declared parameters by name and
    * type. Unknown names and missing required arguments are errors. */
  private def call(lake: Lake, fn: String, rawArgs: String): Long = {
    val spec = graft.sources.GraftProcedures.spec(fn).getOrElse(
      throw new IllegalArgumentException(s"unknown function: $fn"))
    val Named = """(?is)([a-z_]+)\s*=>\s*(.*)""".r
    val (namedArgs, positional) = splitTop(rawArgs).filter(_.nonEmpty)
      .partitionMap {
        case Named(k, v) => Left(k.toLowerCase(Locale.ROOT) -> v)
        case v => Right(v)
      }
    val named = namedArgs.toMap
    val paramNames = spec.params.map(_._1)
    named.keys.find(!paramNames.contains(_)).foreach(k =>
      throw new IllegalArgumentException(
        s"unknown named parameter \"$k\" for ${spec.name}"))
    require(positional.size <= paramNames.size,
      s"${spec.name} takes at most ${paramNames.size} arguments")
    paramNames.take(positional.size).find(named.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"parameter \"$k\" of ${spec.name} given twice"))
    val values = spec.params.zipWithIndex.map { case ((p, dt, dflt), i) =>
      val text = named.get(p).orElse(positional.lift(i)).orElse(dflt)
        .getOrElse(throw new IllegalArgumentException(
          s"${spec.name} requires a ${p.stripSuffix("_name")} argument " +
            s"(positional or $p => …)"))
      literal(text, dt)
    }
    spec.run(lake, InternalRow.fromSeq(values))
  }

  /** One DuckDB-style argument as a Catalyst value of the declared type;
    * a single string binds to a list parameter as a one-element list. */
  private def literal(text: String, dt: DataType): Any = {
    val t = text.trim
    def unquoted(v: String): String =
      if (v.length >= 2 && v.head == '\'' && v.last == '\'')
        v.substring(1, v.length - 1).replace("''", "'")
      else v
    if (t.equalsIgnoreCase("NULL")) null
    else dt match {
      case ArrayType(StringType, _) =>
        val items =
          if (t.startsWith("[") && t.endsWith("]"))
            splitTop(t.substring(1, t.length - 1)).filter(_.nonEmpty)
          else Seq(t)
        new GenericArrayData(
          items.map(v => UTF8String.fromString(unquoted(v.trim))))
      case StringType => UTF8String.fromString(unquoted(t))
      case LongType => unquoted(t).toLong
      case DoubleType => unquoted(t).toDouble
      case BooleanType => unquoted(t).toBoolean
      case other => throw new IllegalArgumentException(
        s"unsupported procedure parameter type $other")
    }
  }

  /** `name TYPE [NOT NULL] [DEFAULT v]` → (field, default) */
  private def parseColumnDef(d: String): (StructField, Option[String]) = {
    // generated columns are rejected with the reference's error text
    // (test/sql/general/generated_columns.test: "does not support")
    if ("(?is)\\)\\s*(VIRTUAL|STORED)?\\s*$".r.findFirstIn(d).isDefined &&
        "(?is)\\s+AS\\s*\\(".r.findFirstIn(d).isDefined)
      throw new IllegalArgumentException(
        "DuckLake does not support generated columns")
    val DefaultRe = """(?is)^(.*?)\s+DEFAULT\s+(.+)$""".r
    val (core, default) = d.trim match {
      case DefaultRe(c, v) => (c.trim, Some(stripQuotes(v.trim)))
      case c => (c, None)
    }
    val notNull = "(?is)\\s+NOT\\s+NULL\\s*$".r.findFirstIn(core).isDefined
    val base = "(?is)\\s+NOT\\s+NULL\\s*$".r.replaceAllIn(core, "")
    // GEOMETRY is a lake-level type (WKB blob + extent stats) that Spark's
    // DDL parser does not know; carry it in field metadata so createTable
    // records the declared lake type (reference geometry DDL,
    // test/sql/geo/ducklake_geometry.test). GEOMETRY nested inside
    // STRUCT(...) / T[] / MAP(...) (DuckDB type syntax) takes the same
    // metadata route via the full lake type string.
    val GeomRe = "(?is)^(.+?)\\s+GEOMETRY\\s*$".r
    val t = base.trim
    val parsed = t match {
      case GeomRe(name) => Lake.geometryField(stripIdent(name))
      case _ if "(?i)(\\bGEOMETRY\\b|\\bSTRUCT\\s*\\(|\\bMAP\\s*\\(|\\[\\s*\\])"
          .r.findFirstIn(t).isDefined =>
        // DuckDB nested type syntax (STRUCT(...) / T[] / MAP(...)) or a
        // lake-level type — name = first identifier, rest = type text
        val cut = t.indexWhere(Character.isWhitespace)
        require(cut > 0, s"cannot parse column definition: $d")
        Lake.typedField(stripIdent(t.substring(0, cut)),
          lakeTypeOf(t.substring(cut + 1).trim))
      case _ => StructType.fromDDL(duckTypeAliases(base)).head
    }
    (parsed.copy(nullable = !notNull), default)
  }

  /** DuckDB spellings Spark's DDL parser rejects: bare VARCHAR (no
    * length), TEXT, BLOB. VARCHAR(n) stays — Spark accepts it. */
  private def duckTypeAliases(s: String): String = s
    .replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")
    .replaceAll("(?i)\\bTEXT\\b", "STRING")
    .replaceAll("(?i)\\bBLOB\\b", "BINARY")

  /** DuckDB-style type text → lake type string (only used when GEOMETRY
    * appears somewhere inside — plain types go through Spark's parser). */
  private def lakeTypeOf(t: String): String = {
    val s = t.trim
    val up = s.toUpperCase
    if (up.endsWith("[]")) s"list<${lakeTypeOf(s.dropRight(2))}>"
    else if (up.startsWith("STRUCT(") && s.endsWith(")"))
      DuckLakeTypes.mkStructString(
        splitTop(s.substring(7, s.length - 1)).map { f =>
          val cut = f.indexWhere(Character.isWhitespace)
          require(cut > 0, s"cannot parse struct field: $f")
          (stripIdent(f.substring(0, cut)), lakeTypeOf(f.substring(cut + 1)))
        })
    else if (up.startsWith("MAP(") && s.endsWith(")")) {
      val parts = splitTop(s.substring(4, s.length - 1))
      require(parts.size == 2, s"MAP needs two type args: $s")
      s"map<${lakeTypeOf(parts(0))},${lakeTypeOf(parts(1))}>"
    } else up match { // DuckDB base type names → lake type strings
      case "GEOMETRY" => "geometry"
      case "BOOLEAN" | "BOOL" => "boolean"
      case "TINYINT" | "INT8" => "int8"
      case "SMALLINT" | "INT16" => "int16"
      case "INT" | "INTEGER" | "INT32" => "int32"
      case "BIGINT" | "INT64" | "LONG" => "int64"
      case "FLOAT" | "REAL" | "FLOAT4" => "float32"
      case "DOUBLE" | "FLOAT8" => "float64"
      case "VARCHAR" | "TEXT" | "STRING" => "varchar"
      case "BLOB" | "BINARY" | "BYTEA" => "blob"
      case "DATE" => "date"
      case "TIMESTAMP" => "timestamp"
      case "TIMESTAMPTZ" => "timestamptz"
      case "UUID" => "uuid"
      case "JSON" => "json"
      case d if d.startsWith("DECIMAL(") || d.startsWith("NUMERIC(") =>
        s"decimal(${d.substring(d.indexOf('(') + 1, d.length - 1)})"
      case _ => // anything else: Spark's own DDL type grammar
        DuckLakeTypes.toTypeString(
          StructType.fromDDL(s"x $s").head.dataType)
    }
  }

  private def stripIdent(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '"' && t.last == '"')
      t.substring(1, t.length - 1)
    else t
  }

  /** Parse a CREATE MACRO implementation list: `(params) AS [TABLE] body`
    * repeated, comma-separated (test_multiple_implementations.test). A
    * scalar body ends at a top-level comma whose remainder reads as the
    * next `(params) AS` head; a table body consumes the rest. */
  private def parseMacroImpls(rest0: String): Seq[MacroImpl] = {
    val impls = scala.collection.mutable.ListBuffer.empty[MacroImpl]
    var s = rest0.trim
    while (s.nonEmpty) {
      require(s.startsWith("("), s"expected macro parameter list at: $s")
      val close = matchingParen(s)
      // a parameter is `name`, `name TYPE` (test_defined_types.test), or
      // `name [TYPE] := default`
      val parsed = splitTop(s.substring(1, close)).map(_.trim)
        .filter(_.nonEmpty).map { p0 =>
          val i = p0.indexOf(":=")
          val (decl, dflt) =
            if (i >= 0) (p0.substring(0, i).trim,
              Some(p0.substring(i + 2).trim))
            else (p0, None)
          val parts = decl.split("\\s+", 2)
          (parts(0), if (parts.length > 1) parts(1).trim else "unknown",
            dflt)
        }
      val params = parsed.map(p => (p._1, p._3))
      val paramTypes = parsed.map(_._2)
      s = s.substring(close + 1).trim
      require(s.matches("(?is)^AS\\s.+"), s"expected AS after macro " +
        s"parameter list, got: $s")
      s = s.replaceFirst("(?is)^AS\\s+", "")
      val isTable = s.matches("(?is)^TABLE\\s.+")
      if (isTable) s = s.replaceFirst("(?is)^TABLE\\s+", "")
      // defaults may not precede non-default parameters
      val firstDflt = params.indexWhere(_._2.isDefined)
      require(firstDflt < 0 || params.drop(firstDflt).forall(_._2.isDefined),
        "macro parameters with defaults must come last")
      if (isTable) {
        impls += MacroImpl(params, s.trim, isTable = true, paramTypes)
        s = ""
      } else {
        // find the overload separator: a top-level comma followed by a
        // complete `(…) AS` head
        var depth = 0
        var inQuote = false
        var cut = -1
        var i = 0
        while (cut < 0 && i < s.length) {
          val ch = s.charAt(i)
          if (inQuote) { if (ch == '\'') inQuote = false }
          else ch match {
            case '\'' => inQuote = true
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 0 =>
              val rem = s.substring(i + 1).trim
              if (rem.startsWith("(")) {
                val c2 = matchingParen(rem)
                if (c2 > 0 && rem.substring(c2 + 1)
                    .matches("(?is)^\\s*AS\\s.+")) cut = i
              }
            case _ =>
          }
          i += 1
        }
        if (cut < 0) {
          impls += MacroImpl(params, s.trim, isTable = false, paramTypes)
          s = ""
        } else {
          impls += MacroImpl(params, s.substring(0, cut).trim,
            isTable = false, paramTypes)
          s = s.substring(cut + 1).trim
        }
      }
    }
    require(impls.map(_.isTable).distinct.length == 1,
      "macro implementations must be all scalar or all table")
    impls.toSeq
  }

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'')
      t.substring(1, t.length - 1)
    else t
  }

  private def matchingParen(s: String): Int = {
    var depth = 0
    s.zipWithIndex.foreach { case (c, i) =>
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i }
    }
    throw new IllegalArgumentException(s"unbalanced parens: $s")
  }

  /** split on commas at paren depth 0 (function calls in expressions),
    * ignoring commas/parens inside single-quoted strings ('' escapes a
    * quote); angle brackets tracked too when splitting type definitions —
    * never in expressions, where < and > are comparison operators */
  private[catalog] def splitTop(s: String,
      angle: Boolean = false): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inQuote = false
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        sb += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') {
            sb += '\''; i += 1
          } else inQuote = false
        }
      } else c match {
        case '\'' => inQuote = true; sb += c
        case '(' | '[' => depth += 1; sb += c
        case ')' | ']' => depth -= 1; sb += c
        case '<' if angle => depth += 1; sb += c
        case '>' if angle => depth -= 1; sb += c
        case ',' if depth == 0 => out += sb.result().trim; sb.clear()
        case other => sb += other
      }
      i += 1
    }
    if (sb.nonEmpty) out += sb.result().trim
    out.toSeq
  }
}
