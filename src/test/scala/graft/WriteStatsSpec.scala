package graft

import java.nio.file.Files

import scala.util.Try

import graft.catalog._
import graft.functions.GeoFunctions.stPoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The stats a write job computes in its writer tasks equal, for every
  * data file it writes, what `statsFor` computes from the file read back:
  * every ducklake_file_column_stats field, the shredded variant path
  * stats, row_group_count, record_count and partition values. Every
  * positional delete file's delete_count equals the positions it holds
  * for its data file. */
class WriteStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graftwstats").toString
    Lake.attach(spark, s"$dir/cat", s"$dir/data")
  }

  /** catalog rows as strings (NaN compares equal to NaN) */
  private def rows(lake: Lake, sql: String, args: Any*): Seq[Seq[String]] = {
    val c = java.sql.DriverManager.getConnection(lake.meta.jdbcUrl)
    try {
      val ps = c.prepareStatement(sql)
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      val rs = ps.executeQuery()
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to n).map(i =>
        Option(rs.getObject(i)).map(_.toString).orNull)
      out.result()
    } finally c.close()
  }

  private def str(v: Any): String = Option(v).map(_.toString).orNull

  private def num(numeric: Boolean, v: Option[String]): String =
    if (!numeric) null
    else str(v.flatMap(x => Try(x.toDouble).toOption).orNull)

  /** Compares every live data file of `table` not in `seen` with its
    * read-back stats, and every live parquet delete file with its
    * positions; returns the data file ids compared. `partCol` is the
    * table's identity partition column, if any. */
  private def check(lake: Lake, table: String, partCol: Option[String] = None,
      seen: Set[String] = Set.empty): Set[String] = {
    val tid = lake.meta.tableByName(table, lake.currentSnapshotId()).get
      .tableId
    val encrypted = lake.options().toMap.get("encrypted").contains("true")
    val files = rows(lake,
      "SELECT data_file_id, path, record_count, row_group_count " +
        "FROM ducklake_data_file WHERE table_id = ? AND end_snapshot IS NULL",
      Long.box(tid)).filterNot(f => seen.contains(f.head))
    files.foreach { case Seq(fid, path, recordCount, rowGroups) =>
      val exp = lake.readBackStats(table, path)
      assert(recordCount == exp.recordCount.toString, path)
      assert(rowGroups == str(exp.rowGroupCount.orNull), path)
      assert(!encrypted || rowGroups == null, path)
      val fidL = Long.box(fid.toLong)
      val got = rows(lake,
        "SELECT column_id, value_count, null_count, min_value, max_value, " +
          "min_numeric, max_numeric, contains_nan, extra_stats " +
          "FROM ducklake_file_column_stats WHERE data_file_id = ?", fidL)
      val want = exp.columnStats.map(s => Seq(s.columnId.toString,
        exp.recordCount.toString, s.nullCount.toString,
        s.minValue.orNull, s.maxValue.orNull, num(s.numeric, s.minValue),
        num(s.numeric, s.maxValue), (s.nanCount > 0).toString,
        s.extraStats.orNull))
      assert(got.sortBy(_.head.toLong) == want.sortBy(_.head.toLong),
        s"column stats of $path")
      val gotVar = rows(lake,
        "SELECT column_id, variant_path, shredded_type, value_count, " +
          "null_count, min_value, max_value, min_numeric, max_numeric " +
          "FROM ducklake_file_variant_stats WHERE data_file_id = ?", fidL)
      val wantVar = exp.variantStats.map(s => Seq(s.columnId.toString,
        s.path, s.shreddedType.orNull, exp.recordCount.toString,
        s.nullCount.toString, s.minValue.orNull, s.maxValue.orNull,
        num(s.numeric, s.minValue), num(s.numeric, s.maxValue)))
      assert(gotVar.sortBy(_.take(2).mkString) ==
        wantVar.sortBy(_.take(2).mkString), s"variant stats of $path")
      val gotPart = rows(lake,
        "SELECT partition_key_index, partition_value " +
          "FROM ducklake_file_partition_value WHERE data_file_id = ?", fidL)
      partCol match {
        case None => assert(gotPart.isEmpty, path)
        case Some(pc) =>
          val vals = spark.read.parquet(lake.io.abs(path)).select(pc)
            .distinct().as[String].collect().toSeq
          assert(vals.size == 1, s"$path holds partition values $vals")
          assert(gotPart == Seq(Seq("0",
            Option(vals.head).getOrElse("__HIVE_DEFAULT_PARTITION__"))),
            s"partition value of $path")
      }
    }
    if (!encrypted) rows(lake,
      "SELECT d.path, d.delete_count, f.path FROM ducklake_delete_file d " +
        "JOIN ducklake_data_file f ON d.data_file_id = f.data_file_id " +
        "WHERE d.table_id = ? AND d.end_snapshot IS NULL " +
        "AND d.file_format = 'parquet'", Long.box(tid)).foreach {
      case Seq(del, n, data) =>
        val held = spark.read.parquet(lake.io.abs(del))
          .filter(col("file_path") === data).count()
        assert(n == held.toString, s"delete_count of $del for $data")
    }
    seen ++ files.map(_.head)
  }

  private val edgeSchema = StructType(Seq(
    StructField("id", LongType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("s", StringType),
    StructField("dec", DecimalType(18, 3)),
    StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
    StructField("nothing", IntegerType),
    StructField("st", StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType)))),
    StructField("arr", ArrayType(LongType)),
    StructField("m", MapType(StringType, IntegerType)),
    Lake.geometryField("g"),
    StructField("ng", StructType(Seq(Lake.geometryField("g"),
      StructField("tag", StringType)))),
    Lake.typedField("pts", "list<geometry>"),
    StructField("v", VariantType)))

  /** NaN and ±Inf doubles, NaN floats, strings over 256 characters,
    * decimals, both timestamp kinds, an all-NULL column, nested struct,
    * list and map leaves, top-level and nested geometry, and a variant
    * whose `$.n` path is shredded. */
  private def edgeRows(lo: Long, n: Int, parts: Int): DataFrame = {
    val id = col("id")
    val x = (id % 50).cast("double")
    spark.range(lo, lo + n, 1, parts).select(id,
      when(id % 7 === 0, lit(Double.NaN))
        .when(id % 7 === 1, lit(Double.PositiveInfinity))
        .when(id % 7 === 2, lit(Double.NegativeInfinity))
        .when(id % 7 === 3, lit(null)).otherwise(id * 0.5).as("d"),
      when(id % 5 === 0, lit(Float.NaN)).otherwise(id.cast("float")).as("f"),
      when(id % 4 === 0, lit(null))
        .otherwise(concat(repeat(lit("x"), 280), id.cast("string"))).as("s"),
      (id * 1.125 - 40).cast("decimal(18,3)").as("dec"),
      timestamp_seconds(id * 3601).as("ts"),
      timestamp_seconds(id * 3599).cast("timestamp_ntz").as("tsn"),
      lit(null).cast("int").as("nothing"),
      struct((id % 10).cast("int").as("a"),
        when(id % 3 === 0, lit(null)).otherwise(id.cast("string")).as("b"))
        .as("st"),
      when(id % 6 === 0, lit(null)).otherwise(array(id, id * -2)).as("arr"),
      map(concat(lit("k"), (id % 4).cast("string")), (id % 9).cast("int"))
        .as("m"),
      when(id % 8 === 0, lit(null)).otherwise(stPoint(x, x * 2)).as("g"),
      struct(stPoint(x + 1, x), lit("t").as("tag")).as("ng"),
      array(stPoint(x - 1, x), stPoint(x, x - 3)).as("pts"),
      parse_json(when(id % 3 === 0, lit("""{"k":"none"}"""))
        .otherwise(concat(lit("""{"n":"""), id.cast("string"), lit("}"))))
        .as("v"))
  }

  test("type-edge fixtures: appends, UPDATE, DELETE, MERGE and " +
      "compaction record the stats of the files read back") {
    val lake = freshLake()
    lake.createTable("e", edgeSchema)
    lake.setOption("variant_shredded_paths", "v:$.n:bigint",
      table = Some("e"))
    lake.append("e", edgeRows(0, 40, 1))
    lake.append("e", edgeRows(40, 120, 3))
    var seen = check(lake, "e")
    assert(seen.size == 4, seen)
    lake.update("e", Map("d" -> lit(Double.NaN), "s" -> lit(null)),
      col("id") % 9 === 0)
    seen = check(lake, "e", seen = seen)
    lake.delete("e", col("id") % 11 === 0)
    lake.delete("e", col("id") % 13 === 0)
    seen = check(lake, "e", seen = seen)
    lake.merge("e", edgeRows(150, 30, 2), "id",
      whenMatchedUpdate = Some(Map("f" -> lit(Float.NegativeInfinity))))
    seen = check(lake, "e", seen = seen)
    lake.rewriteDataFiles("e", deleteThreshold = 0.0)
    lake.mergeAdjacentFiles("e")
    check(lake, "e", seen = seen)
    // MERGE re-inserted the deleted ids of 150 until 160
    assert(lake.table("e").count() == 180L - (0 until 150).count(i =>
      i % 11 == 0 || i % 13 == 0))
  }

  test("hive values with spaces and escapes, maxRecordsPerFile splits " +
      "and per_thread_output=false") {
    val lake = freshLake()
    lake.createTable("h", StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("pad", StringType))))
    lake.setPartitionedBy("h", Seq(("k", "identity")))
    val keys = Seq("a b", "x:y", "p%q", "s/t", "e=f", "plain", null)
    def batch(lo: Int, n: Int) = (lo until lo + n)
      .map(i => (i.toLong, keys(i % keys.size), s"payload_${i * 7919}"))
      .toDF("id", "k", "pad")
    lake.append("h", batch(0, 700))
    var seen = check(lake, "h", Some("k"))
    // bytes per row observed → the next append splits each partition
    lake.setOption("target_file_size", "2048")
    lake.append("h", batch(700, 1400).coalesce(1))
    val split = check(lake, "h", Some("k"), seen)
    assert(split.size - seen.size > keys.size,
      s"${split.size - seen.size} files for ${keys.size} partitions")
    seen = split
    lake.setOption("target_file_size", (512L << 20).toString)
    lake.setOption("per_thread_output", "false", table = Some("h"))
    lake.append("h", batch(2100, 70).repartition(4))
    seen = check(lake, "h", Some("k"), seen)
    lake.update("h", Map("id" -> (col("id") + 10000)), col("id") % 5 === 0)
    check(lake, "h", Some("k"), seen)
    assert(lake.table("h").count() == 2170L)
  }

  test("the files of RandomizedDmlSpec's sequences, inlined-data " +
      "flushes included") {
    for ((seed, inline) <- Seq((42L, false), (1337L, true))) {
      var seen = Set.empty[String]
      RandomizedDmlSpec.runSeed(seed, ops = 25, inline,
        afterOp = lake => seen = check(lake, "t", seen = seen))
      assert(seen.size >= 10, s"seed $seed: $seen")
    }
  }

  test("an encrypted write records NULL row groups and the read-back " +
      "stats") {
    val lake = freshLake()
    lake.setOption("encrypted", "true")
    lake.createTableAs("c",
      (1 to 200).map(i => (i.toLong, if (i % 9 == 0) Double.NaN else i * 0.25,
        s"v$i")).toDF("id", "d", "s").repartition(2))
    var seen = check(lake, "c")
    lake.update("c", Map("s" -> lit("w")), col("id") % 4 === 0)
    seen = check(lake, "c", seen = seen)
    assert(seen.size >= 3, seen)
  }
}
