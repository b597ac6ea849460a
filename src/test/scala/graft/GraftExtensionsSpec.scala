package graft

import java.nio.file.Files

import graft.catalog.Lake
import graft.plans.{GraftExtensions, LakeRegistry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst-resolution SQL access: `SELECT ... FROM graft.tbl` without
  * temp views, resolved through the lake's pruned scan. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql resolves graft.<table> through the extension rule") {
    val base = SparkTestSession.spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // keep executed plans non-adaptive so the FileSourceScanExec
      // collect below sees the real scans
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      // DSv2 catalog: CREATE TABLE / CTAS / DROP TABLE via plain SQL
      .config("spark.sql.catalog.graft", "graft.sources.GraftTableCatalog")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import spark.implicits._
      val dir = Files.createTempDirectory("graftext").toString
      val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
      LakeRegistry.register("graft", lake)
      lake.createTableAs("ev", Seq((1L, "a"), (2L, "b"), (3L, "a"))
        .toDF("id", "tag"))

      val out = spark.sql(
        "SELECT tag, COUNT(*) AS n FROM graft.ev GROUP BY tag ORDER BY tag")
        .collect()
      assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L)))

      // DML through the lake is immediately visible to SQL
      val vPreDelete = lake.currentSnapshotId()
      lake.delete("ev", col("id") === 1L)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ev")
        .head().getLong(0) == 2L)

      // joins between lake tables and inline data
      lake.createTableAs("dim", Seq(("a", "alpha"), ("b", "beta"))
        .toDF("tag", "label"))
      val joined = spark.sql(
        """SELECT label, COUNT(*) AS n FROM graft.ev e
          |JOIN graft.dim d ON e.tag = d.tag GROUP BY label ORDER BY label"""
          .stripMargin).collect()
      assert(joined.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("alpha", 1L), ("beta", 1L)))

      // unregistered alias still errors cleanly
      intercept[Exception](spark.sql("SELECT * FROM nope.ev").collect())

      // INSERT INTO through plain spark.sql appends to the lake
      spark.sql("INSERT INTO graft.ev VALUES (10, 'c'), (11, 'c')")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ev WHERE tag = 'c'")
        .head().getLong(0) == 2L)
      spark.sql(
        "INSERT INTO graft.ev SELECT CAST(20 AS BIGINT), tag FROM graft.dim")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ev")
        .head().getLong(0) == 6L) // 2 original + 2 values + 2 from dim

      // DELETE and UPDATE through plain spark.sql
      spark.sql("DELETE FROM graft.ev WHERE tag = 'c' AND id = 11")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ev WHERE tag = 'c'")
        .head().getLong(0) == 1L)
      spark.sql("UPDATE graft.ev SET tag = 'z' WHERE id = 10")
      assert(spark.sql("SELECT tag FROM graft.ev WHERE id = 10")
        .head().getString(0) == "z")

      // MERGE INTO through plain spark.sql: upsert semantics
      lake.createTableAs("m", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      Seq((2L, "B"), (3L, "C")).toDF("k", "v").createOrReplaceTempView("ms")
      spark.sql(
        """MERGE INTO graft.m t USING ms s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT k, v FROM graft.m ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "B"), (3L, "C")))
      // matched-delete variant
      Seq(1L).toDF("k").createOrReplaceTempView("md")
      spark.sql(
        """MERGE INTO graft.m t USING md s ON t.k = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.m")
        .head().getLong(0) == 2L)
      // conditional actions: the gate keeps non-matching rows untouched,
      // and NOT MATCHED BY SOURCE deletes the unreferenced leftovers
      // (table here: (2,'B'), (3,'C'))
      Seq((2L, "keep"), (3L, "drop")).toDF("k", "mode")
        .createOrReplaceTempView("mc")
      spark.sql(
        """MERGE INTO graft.m t USING mc s ON t.k = s.k
          |WHEN MATCHED AND s.mode = 'drop' THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT k FROM graft.m ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(2L)) // 3 dropped, 2 kept
      spark.sql(
        """MERGE INTO graft.m t USING md s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.m")
        .head().getLong(0) == 0L) // k=2 not in md → deleted
      // INSERT with an explicit column list: listed columns take the
      // given expressions, absent columns read their defaults (NULL here)
      Seq((7L, "g"), (8L, "h")).toDF("k", "v").createOrReplaceTempView("mi")
      spark.sql(
        """MERGE INTO graft.m t USING mi s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k * 10)""".stripMargin)
      assert(spark.sql("SELECT k, v FROM graft.m ORDER BY k").collect()
        .map(r => (r.getLong(0), r.isNullAt(1))).toSeq ==
        Seq((70L, true), (80L, true)))

      // SQL time travel: VERSION AS OF sees the pre-delete snapshot…
      assert(spark.sql(
        s"SELECT COUNT(*) AS n FROM graft.ev VERSION AS OF $vPreDelete")
        .head().getLong(0) == 3L)
      // …including rows the current version no longer has
      assert(spark.sql(
        s"SELECT id FROM graft.ev VERSION AS OF $vPreDelete WHERE id = 1")
        .collect().map(_.getLong(0)).toSeq == Seq(1L))

      // SQL-path WHERE reaches catalog file pruning: two files with
      // disjoint id ranges, a range predicate must scan only ONE
      lake.createTableAs("pr", (1L to 100L).toDF("id").coalesce(1))
      lake.append("pr", (101L to 200L).toDF("id").coalesce(1))
      val q = spark.sql("SELECT id FROM graft.pr WHERE id > 150")
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val nFiles = scans.map(_.relation.location.inputFiles.length).sum
      assert(nFiles == 1,
        s"catalog pruning missing on the SQL path: scanned $nFiles files")
      // and the residual predicate still pushes into parquet
      assert(q.queryExecution.executedPlan.toString
        .contains("GreaterThan(id,150)"))
      assert(q.count() == 50)

      // predicates on a JOINed lake table prune too (pushdown through join)
      lake.createTableAs("pd", Seq((160L, "x")).toDF("id", "t"))
      val jq = spark.sql(
        """SELECT p.id, d.t FROM graft.pr p JOIN graft.pd d ON p.id = d.id
          |WHERE p.id > 150""".stripMargin)
      val jFiles = jq.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
      assert(jFiles == 2, // pr pruned to 1 file + pd's single file
        s"join-side pruning missing: scanned $jFiles files")
      assert(jq.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((160L, "x")))

      // lake scalar functions registered in SQL: murmur3_32 and the
      // spatial surface; st_bbox_intersects prunes files by geo stats
      assert(spark.sql("SELECT murmur3_32(34) AS h").head().getInt(0) ==
        2017239379) // Iceberg spec vector for int 34
      lake.sql("CREATE TABLE geos (id INT, g GEOMETRY)")
      import graft.functions.GeoWkb
      lake.append("geos", Seq((1, GeoWkb.pointWkb(0, 0)))
        .toDF("id", "g").coalesce(1))
      lake.append("geos", Seq((2, GeoWkb.pointWkb(100, 100)))
        .toDF("id", "g").coalesce(1))
      val gq = spark.sql(
        "SELECT id FROM graft.geos WHERE st_bbox_intersects(g, 90, 90, 110, 110)")
      assert(gq.collect().map(_.getInt(0)).toSeq == Seq(2))
      val gFiles = gq.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
      assert(gFiles == 1,
        s"geo pruning missing on the SQL path: scanned $gFiles files")
      assert(spark.sql(
        "SELECT st_bbox_intersects(st_point(5, 5), 0, 0, 10, 10) AS hit")
        .head().getBoolean(0))

      // ---- DSv2 TableCatalog: DDL through plain spark.sql ----
      // CREATE TABLE with columns, INSERT through the placeholder path,
      // read back
      spark.sql("CREATE TABLE graft.ddl1 (id BIGINT, v STRING)")
      spark.sql("INSERT INTO graft.ddl1 VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ddl1")
        .head().getLong(0) == 2L)
      // CTAS: create + populate in one statement (V1 write fallback →
      // lake.append with stats + snapshot commit)
      spark.sql(
        "CREATE TABLE graft.ddl2 AS SELECT id * 10 AS id, v FROM graft.ddl1")
      assert(spark.sql("SELECT id FROM graft.ddl2 ORDER BY id").collect()
        .map(_.getLong(0)).toSeq == Seq(10L, 20L))
      // the CTAS table is a REAL lake table: files + stats pruning work
      assert(lake.listFiles("ddl2").count() > 0)
      // catalog stats pruning holds on DSv2-created tables: a second
      // INSERT adds a disjoint-range file, and a selective WHERE through
      // plain spark.sql scans only ONE of the two files
      spark.sql("INSERT INTO graft.ddl2 SELECT id + 1000, v FROM graft.ddl1")
      val totalFiles = lake.listFiles("ddl2").count()
      assert(totalFiles >= 2)
      val prunedDf = spark.sql("SELECT id FROM graft.ddl2 WHERE id >= 1000")
      assert(prunedDf.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1001L, 1002L))
      val prunedFiles = prunedDf.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
      assert(prunedFiles < totalFiles,
        s"stats pruning on a CTAS table must drop the id<1000 files " +
          s"(scanned $prunedFiles of $totalFiles)")
      // ALTER TABLE through the catalog
      spark.sql("ALTER TABLE graft.ddl2 ADD COLUMN tag STRING")
      assert(spark.sql("SELECT tag FROM graft.ddl2 WHERE id = 10")
        .head().isNullAt(0))
      spark.sql("ALTER TABLE graft.ddl2 RENAME COLUMN tag TO label")
      assert(spark.sql("SELECT label FROM graft.ddl2").count() == 4)
      // RENAME + DROP
      // (the RENAME TO target is an identifier WITHIN the same catalog)
      spark.sql("ALTER TABLE graft.ddl2 RENAME TO ddl3")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.ddl3")
        .head().getLong(0) == 4L)
      spark.sql("DROP TABLE graft.ddl3")
      intercept[Exception](lake.table("ddl3").count())
      // namespaces
      spark.sql("CREATE NAMESPACE graft.aux")
      spark.sql("CREATE TABLE graft.aux.t AS SELECT 5 AS x")
      assert(spark.sql("SELECT x FROM graft.aux.t").head().getInt(0) == 5)
      assert(spark.sql("SHOW TABLES IN graft.aux").collect()
        .map(_.getString(1)).toSeq == Seq("t"))
      spark.sql("DROP TABLE graft.aux.t")
      spark.sql("DROP NAMESPACE graft.aux")

      // ---- lake VIEWS through plain spark.sql ----
      // a view expands to its stored SQL; the base table resolves through
      // the same placeholder path (reference: views query like tables)
      lake.createView("v_big", "SELECT id FROM pr WHERE id > 150")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v_big")
        .head().getLong(0) == 50L)
      // nested views expand recursively
      lake.createView("v_bigger", "SELECT id FROM v_big WHERE id > 190")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v_bigger")
        .head().getLong(0) == 10L)
      // catalog file pruning reaches the base scan UNDER the view: pr has
      // two disjoint-range files and the view predicate excludes one
      val vq = spark.sql("SELECT id FROM graft.v_big")
      val vFiles = vq.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.relation.location.inputFiles.length).sum
      assert(vFiles == 1, s"view base scan not pruned: $vFiles files")
      // views join with tables in the same statement
      assert(spark.sql(
        """SELECT COUNT(*) AS n FROM graft.v_big v
          |JOIN graft.pd d ON v.id = d.id""".stripMargin)
        .head().getLong(0) == 1L)

      // ---- view DDL through plain spark.sql ----
      spark.sql("CREATE VIEW graft.v_sql AS SELECT id FROM graft.pr WHERE id <= 100")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v_sql")
        .head().getLong(0) == 100L)
      // duplicate create errors; OR REPLACE swaps the definition
      intercept[Exception](spark.sql(
        "CREATE VIEW graft.v_sql AS SELECT id FROM graft.pr"))
      spark.sql(
        "CREATE OR REPLACE VIEW graft.v_sql AS SELECT id FROM graft.pr WHERE id <= 10")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v_sql")
        .head().getLong(0) == 10L)
      // DROP VIEW; IF EXISTS tolerates the gone view
      spark.sql("DROP VIEW graft.v_sql")
      intercept[Exception](
        spark.sql("SELECT * FROM graft.v_sql").collect())
      spark.sql("DROP VIEW IF EXISTS graft.v_sql")
      intercept[Exception](spark.sql("DROP VIEW graft.v_sql"))
      // lake.sql spellings share the same lifecycle
      lake.sql("CREATE VIEW v_ls AS SELECT id FROM pr WHERE id > 190")
      assert(spark.sql("SELECT COUNT(*) AS n FROM graft.v_ls")
        .head().getLong(0) == 10L)
      lake.sql("DROP VIEW v_ls")
      intercept[Exception](
        spark.sql("SELECT * FROM graft.v_ls").collect())
      // ALTER VIEW RENAME through both SQL paths (reference
      // ducklake_rename_view.test)
      spark.sql("CREATE VIEW graft.v_r1 AS SELECT id FROM graft.pr WHERE id = 1")
      spark.sql("ALTER VIEW graft.v_r1 RENAME TO v_r2")
      assert(spark.sql("SELECT id FROM graft.v_r2").head().getLong(0) == 1L)
      intercept[Exception](
        spark.sql("SELECT * FROM graft.v_r1").collect())
      lake.sql("ALTER VIEW v_r2 RENAME TO v_r3")
      assert(spark.sql("SELECT id FROM graft.v_r3").head().getLong(0) == 1L)
      spark.sql("DROP VIEW graft.v_r3")
      // table/view name conflicts error both ways (reference
      // ducklake_view_table_conflict.test)
      intercept[Exception](
        lake.createView("pr", "SELECT 1 AS x"))
      spark.sql("CREATE VIEW graft.v_cf AS SELECT 42 AS x")
      intercept[Exception](
        spark.sql("CREATE TABLE graft.v_cf (i INT)"))
      spark.sql("DROP VIEW graft.v_cf")
      // rename onto an existing name errors (view and table targets)
      spark.sql("CREATE VIEW graft.vr1 AS SELECT 1 AS x")
      spark.sql("CREATE VIEW graft.vr2 AS SELECT 2 AS x")
      intercept[Exception](
        spark.sql("ALTER VIEW graft.vr1 RENAME TO vr2"))
      intercept[Exception](
        spark.sql("ALTER VIEW graft.vr1 RENAME TO pr"))
      // a qualified rename target with the catalog alias works
      spark.sql("ALTER VIEW graft.vr1 RENAME TO graft.vr3")
      assert(spark.sql("SELECT x FROM graft.vr3").head().getInt(0) == 1)
      spark.sql("DROP VIEW graft.vr2")
      spark.sql("DROP VIEW graft.vr3")
      // recursive views fail with a clean error, not an analyzer
      // max-iterations blowup (reference fails with a max-depth error):
      // make v_rec1 -> v_rec2 -> v_rec1 via OR REPLACE
      spark.sql("CREATE VIEW graft.v_rec1 AS SELECT id FROM graft.pr")
      spark.sql("CREATE VIEW graft.v_rec2 AS SELECT id FROM graft.v_rec1")
      spark.sql(
        "CREATE OR REPLACE VIEW graft.v_rec1 AS SELECT id FROM graft.v_rec2")
      val rec = intercept[Exception](
        spark.sql("SELECT * FROM graft.v_rec1").collect())
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(rec).exists(_.contains("recursive lake view")), rec)
      spark.sql("DROP VIEW graft.v_rec1")
      spark.sql("DROP VIEW graft.v_rec2")
    } finally {
      LakeRegistry.unregister("graft")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("spark.sql MERGE with a compound ON key and ordered WHEN MATCHED " +
      "clauses; DML returns a Count; rowid in DML conditions") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextmrg").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      // compound upsert key (test_rewrite_partitioning.test shape)
      lake.createTableAs("p", Seq((1, 1, 10), (1, 2, 20), (2, 1, 100),
        (2, 2, 200)).toDF("part_key", "id", "value"))
      Seq((1, 1, 15), (1, 3, 30), (2, 1, 150), (2, 3, 300))
        .toDF("part_key", "id", "value").createOrReplaceTempView("psrc")
      val upserted = spark.sql(
        """MERGE INTO graft.p AS target USING psrc AS source
          |ON target.part_key = source.part_key AND target.id = source.id
          |WHEN MATCHED THEN UPDATE SET value = source.value
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head().getLong(0)
      assert(upserted == 4L) // 2 updated + 2 inserted
      assert(lake.table("p").orderBy("part_key", "id")
        .as[(Int, Int, Int)].collect().toSeq ==
        Seq((1, 1, 15), (1, 2, 20), (1, 3, 30),
          (2, 1, 150), (2, 2, 200), (2, 3, 300)))

      // ordered WHEN MATCHED list: per row the first passing clause acts
      lake.createTableAs("tgt",
        Seq((1L, 5.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"))
      Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 4.0)).toDF("k", "x")
        .createOrReplaceTempView("osrc")
      spark.sql(
        """MERGE INTO graft.tgt t USING osrc s ON t.k = s.k
          |WHEN MATCHED AND t.x < 10 THEN DELETE
          |WHEN MATCHED AND t.x < 25 THEN UPDATE SET x = t.x + 1
          |WHEN MATCHED THEN UPDATE SET x = 0
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(lake.table("tgt").orderBy("k").as[(Long, Double)]
        .collect().toSeq == Seq((2L, 21.0), (3L, 0.0), (4L, 4.0)))

      // virtual columns resolve in DML conditions, hidden from SELECT *
      assert(spark.sql("SELECT * FROM graft.tgt").columns.toSeq ==
        Seq("k", "x"))
      val rid = spark.sql("SELECT rowid FROM graft.tgt WHERE k = 3")
        .head().getLong(0)
      assert(spark.sql(s"UPDATE graft.tgt SET x = 9 WHERE rowid = $rid")
        .head().getLong(0) == 1L)
      assert(spark.sql(s"DELETE FROM graft.tgt WHERE rowid = $rid")
        .head().getLong(0) == 1L)
      assert(spark.sql("INSERT INTO graft.tgt VALUES (5, 5.0), (6, 6.0)")
        .head().getLong(0) == 2L)
      // INSERT … SELECT … WHERE into a table of the `graft` DSv2 catalog
      // runs the lake's INSERT command too
      assert(spark.sql("INSERT INTO graft.tgt SELECT k + 100, x " +
        "FROM graft.tgt WHERE k = 2").head().getLong(0) == 1L)
      assert(lake.table("tgt").orderBy("k").select("k").as[Long]
        .collect().toSeq == Seq(2L, 4L, 5L, 6L, 102L))
    } finally LakeRegistry.unregister("graft")
  }

  test("spark.sql INSERT OVERWRITE … SELECT … WHERE replaces the rows " +
      "in one snapshot") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextow").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      lake.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      lake.createTableAs("s",
        Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("k", "v"))
      val snaps = lake.snapshots().count()
      assert(spark.sql("INSERT OVERWRITE graft.t SELECT k, v FROM graft.s " +
        "WHERE k > 10").head().getLong(0) == 2L)
      assert(lake.snapshots().count() == snaps + 1)
      assert(lake.table("t").orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq((20L, "y"), (30L, "z")))
      // the query may read the table it overwrites
      assert(spark.sql("INSERT OVERWRITE graft.t SELECT k + 1, v FROM graft.t")
        .head().getLong(0) == 2L)
      assert(lake.table("t").orderBy("k").select("k").as[Long]
        .collect().toSeq == Seq(21L, 31L))
      // lake.sql takes the same statement with bare names
      assert(lake.sql("INSERT OVERWRITE t SELECT k, v FROM s WHERE k = 10")
        .head().getLong(0) == 1L)
      assert(lake.table("t").select("k").as[Long].collect().toSeq ==
        Seq(10L))
    } finally LakeRegistry.unregister("graft")
  }

  test("DML conditions may be nondeterministic, through spark.sql and " +
      "lake.sql") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextnd").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      lake.createTableAs("u", (1L to 50L).map(k => (k, "a")).toDF("id", "v"))
      spark.udf.register("ndprobe",
        udf((x: Long) => x).asNondeterministic())
      assert(spark.sql("UPDATE graft.u SET v = 'c' WHERE ndprobe(id) = 42")
        .head().getLong(0) == 1L)
      assert(lake.sql("UPDATE u SET v = 'd' WHERE ndprobe(id) = 43")
        .head().getLong(0) == 1L)
      assert(lake.table("u").filter(col("v") =!= "a").orderBy("id")
        .as[(Long, String)].collect().toSeq == Seq((42L, "c"), (43L, "d")))
      assert(lake.sql("DELETE FROM u WHERE ndprobe(id) > 45")
        .head().getLong(0) == 5L)
      assert(spark.sql("DELETE FROM graft.u WHERE rand() >= 0")
        .head().getLong(0) == 45L)
      assert(lake.table("u").count() == 0L)
    } finally LakeRegistry.unregister("graft")
  }

  test("spark.sql MERGE whose ON key needs an implicit cast") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextcast").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      lake.createTableAs("u", Seq((394L, "a"), (395L, "b")).toDF("id", "v"))
      // BIGINT t.id against INT s.id: the condition analyzes as
      // t.id = CAST(s.id AS BIGINT)
      assert(spark.sql(
        """MERGE INTO graft.u t
          |USING (SELECT * FROM VALUES (395, 'm'), (396, 'n') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .head().getLong(0) == 2L)
      assert(lake.table("u").orderBy("id").as[(Long, String)].collect()
        .toSeq == Seq((394L, "a"), (395L, "m"), (396L, "n")))
    } finally LakeRegistry.unregister("graft")
  }

  test("spark.sql VERSION AS OF over a lake view matches lake.sql's AT " +
      "form") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextvtt").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      lake.createTableAs("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val vNoView = lake.currentSnapshotId()
      lake.createView("tv", "SELECT id * 10 AS id10, v FROM t")
      val vView = lake.currentSnapshotId()
      lake.sql("INSERT INTO t VALUES (3, 'c')")
      lake.sql("DELETE FROM t WHERE id = 1")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, String)].collect().toSeq
      val viaSpark = rows(spark.sql(
        s"SELECT id10, v FROM graft.tv VERSION AS OF $vView ORDER BY id10"))
      assert(viaSpark == Seq((10L, "a"), (20L, "b")))
      assert(rows(lake.sql(
        s"SELECT id10, v FROM tv AT (VERSION => $vView) ORDER BY id10")) ==
        viaSpark)
      // the current view reads the current table
      assert(rows(spark.sql("SELECT id10, v FROM graft.tv ORDER BY id10")) ==
        Seq((20L, "b"), (30L, "c")))
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT * FROM graft.tv VERSION AS OF $vNoView").collect())
      assert(e.getMessage.contains(s"does not exist at version $vNoView"))
    } finally LakeRegistry.unregister("graft")
  }

  test("spark.sql MERGE whose ON key narrows a column is left to Spark") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftextnarrow").toString
    val lake = Lake.attach(spark, s"$dir/cat", s"$dir/data")
    LakeRegistry.register("graft", lake)
    try {
      lake.createTableAs("p", Seq((1.5, "a")).toDF("price", "v"))
      lake.createTableAs("d",
        Seq((java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "a"))
          .toDF("ts", "v"))
      // a cast the statement wrote (DOUBLE → INT, TIMESTAMP → DATE) is no
      // key the lake's merge joins on: the MERGE fails rather than insert
      // the rows it matches
      for (sql <- Seq(
        """MERGE INTO graft.p t
          |USING (SELECT * FROM VALUES (1, 'm') AS s(price, v)) s
          |ON CAST(t.price AS INT) = s.price
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        """MERGE INTO graft.d t
          |USING (SELECT DATE'2024-01-02' AS ts, 'm' AS v) s
          |ON CAST(t.ts AS DATE) = s.ts
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)) {
        val e = intercept[Exception](spark.sql(sql).collect())
        assert(e.getMessage.contains("UNSUPPORTED_FEATURE"), e.getMessage)
      }
      assert(lake.table("p").as[(Double, String)].collect().toSeq ==
        Seq((1.5, "a")))
      assert(lake.table("d").count() == 1L)
    } finally LakeRegistry.unregister("graft")
  }
}
