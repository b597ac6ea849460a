package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.LakeSession
import graft.catalog.Lake

/** The benchmark's JVM side. It reads a run spec written by
  * `perfbench/run.py` (set-up statements, warm-up ops, timed ops; every op
  * is one SQL text), drives them through `spark.sql` in a closed loop with
  * one client, and writes what it measured and what the program answered
  * to a result file. It judges nothing itself: `run.py` checks the answers
  * against DuckDB.
  *
  * Usage: LakeBench <spec.json> <result.json>; the working directory is
  * the run's own scratch directory. */
object LakeBench {

  /** `changes`: how the run reads back the rows a write inserted and
    * deleted, "count" (row counts before and after, from the catalog) or
    * "feed" (the lake's change feed); empty for ops that are not checked
    * that way. */
  final case class Op(id: Int, kind: String, sql: String, tables: Seq[String],
      write: Boolean, digest: Boolean, changes: String)

  private val mapper = new ObjectMapper()

  private def ops(n: JsonNode): Seq[Op] = n.elements().asScala.map { o =>
    Op(o.get("id").asInt, o.get("kind").asText, o.get("sql").asText,
      o.get("tables").elements().asScala.map(_.asText).toSeq,
      o.get("write").asBoolean, o.get("digest").asBoolean,
      o.get("changes").asText)
  }.toSeq

  private def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def heapUsedMb: Double = {
    val mx = ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Full GCs until the heap in use stops shrinking, at least three: in
    * the pauses between them Spark's ContextCleaner drops the broadcast
    * blocks whose references the GC before collected. Returns the heap in
    * use after each GC, in MB. */
  private def fullGc(): Seq[Double] = {
    val used = mutable.ArrayBuffer.empty[Double]
    while (used.size < 3 || (used.size < 8 &&
        used(used.size - 1) < used(used.size - 2) - 1.0)) {
      System.gc()
      Thread.sleep(500)
      used += heapUsedMb
    }
    used.toSeq
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Files the current snapshot of `table` references:
    * (data path -> (bytes, rows)) and the set of delete files. */
  private def liveFiles(lake: Lake, table: String)
      : (Map[String, (Long, Long)], Set[String]) = {
    val rows = lake.listFiles(table).collect()
    (rows.map(r => r.getString(0) -> (r.getLong(2), r.getLong(1))).toMap,
      rows.flatMap(r => Option(r.getString(4)).toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty)).toSet)
  }

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg
    val work = Paths.get("").toAbsolutePath
    val trace = spec.get("trace").asBoolean
    val nproc = spec.get("nproc").asInt
    val out = new java.util.LinkedHashMap[String, Any]()

    val spark = LakeSession.builder().master(s"local[$nproc]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ---- set-up: a fresh lake in this run's own directory
    val lakeDir = work.resolve("lake")
    val b0 = System.nanoTime()
    val lake = LakeSession.attach(spark, lakeDir.resolve("cat").toString,
      lakeDir.resolve("data").toString)
    val statementS = strings(spec.get("setup_sql")).map { s =>
      val t0 = System.nanoTime()
      spark.sql(s).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val buildS = (System.nanoTime() - b0) / 1e9
    val dataDir = lakeDir.resolve("data")
    val catDir = lakeDir.resolve("cat")

    val tracer =
      if (trace) Some(new Tracer(spark, dataDir.toAbsolutePath.toString))
      else None
    tracer.foreach(_.register())
    if (trace) lake.enableMetadataLogging()

    // ---- one op: substitute run-time values, run, digest the answer
    val snapAfter = mutable.Map.empty[Int, Long]
    val markMs = mutable.Map.empty[Int, Long]
    val Placeholder = """\{(snap|mark):(\d+)\}""".r
    val results = new java.util.ArrayList[java.util.Map[String, Any]]()
    val layerRows = new java.util.ArrayList[java.util.Map[String, Any]]()
    val spans = new java.util.ArrayList[java.util.List[Any]]()
    val changes = new java.util.LinkedHashMap[String, Any]()
    // time the loop spends on the benchmark's own reads of the lake between
    // ops; the timed window leaves it out
    var bookkeepingNs = 0L

    /** What a traced op's tables, the data path and the GC held before it. */
    final case class Around(files: Map[String, (Map[String, (Long, Long)],
        Set[String])], storage: Map[String, Long], gcMs: Long)

    /** Per-layer counters and spans of one traced op. */
    def traceOp(op: Op, ms: Double, startMs: Long, endMs: Long,
        snapshots: Long, nRows: Long, before: Option[Around]): Unit = {
      val b = before.get
      val c = mutable.LinkedHashMap.empty[String, Double]
      tracer.get.drain()
      c ++= tracer.get.opCounters(startMs, endMs)
      // catalog statements of this op, from the lake's metadata log
      val log = lake.metadataLog().collect().filter { row =>
        val ts = row.getTimestamp(0).getTime
        ts >= startMs && ts <= endMs
      }
      lake.disableMetadataLogging(); lake.enableMetadataLogging()
      val writes = log.filter(row => row.getString(2).trim.toUpperCase
        .matches("^(INSERT|UPDATE|DELETE|MERGE|CREATE|DROP|ALTER)\\b.*"))
      c("catalog.statements") = log.length
      c("catalog.ms") = log.map(_.getDouble(3)).sum
      c("commit.snapshots") = snapshots.toDouble
      c("commit.statements") = writes.length
      c("commit.ms") = writes.map(_.getDouble(3)).sum
      // scan: files the op's tables hold against files its scans read
      c("scan.files_in_snapshot") = b.files.values.map(_._1.size).sum
      // write and maintenance: files the op's snapshot added and dropped
      val filesAfter = op.tables.map(t => t -> liveFiles(lake, t)).toMap
      val storageAfter = listTree(dataDir)
      var newData = 0; var newDel = 0; var bytes = 0L; var rowsW = 0L
      var filesIn = 0; var filesOut = 0
      op.tables.foreach { t =>
        val (d0, x0) = b.files(t)
        val (d1, x1) = filesAfter(t)
        val added = (d1.keySet -- d0.keySet).toSeq
        val addedDel = (x1 -- x0).toSeq
        newData += added.size
        newDel += addedDel.size
        rowsW += added.map(d1(_)._2).sum
        bytes += added.map(d1(_)._1).sum +
          addedDel.map(storageAfter.getOrElse(_, 0L)).sum
        filesIn += d0.size; filesOut += d1.size
      }
      c("write.data_files") = newData
      c("write.delete_files") = newDel
      c("write.bytes") = bytes
      c("write.rows") = rowsW
      val maint = op.kind.startsWith("maint")
      c("maint.files_in") = if (maint) filesIn else 0
      c("maint.files_out") = if (maint) filesOut else 0
      c("maint.bytes_rewritten") = if (maint) bytes else 0
      c("maint.files_removed") =
        if (maint) (b.storage.keySet -- storageAfter.keySet).size else 0
      c("jvm.gc_ms") = gcMs - b.gcMs
      c("rows_matched") = nRows
      val lr = new java.util.LinkedHashMap[String, Any]()
      lr.put("id", op.id); lr.put("kind", op.kind); lr.put("ms", ms)
      c.foreach { case (k, v) => lr.put(k, v) }
      layerRows.add(lr)
      val opSpan = spans.size
      spans.add(java.util.List.of(op.id, "op", startMs, endMs, -1))
      tracer.get.spans(startMs, endMs).foreach { case (layer, s, e) =>
        spans.add(java.util.List.of(op.id, layer, s, e, opSpan))
      }
      log.foreach { row =>
        val end = row.getTimestamp(0).getTime
        spans.add(java.util.List.of(op.id,
          if (writes.contains(row)) "commit" else "catalog",
          end - math.round(row.getDouble(3)), end, opSpan))
      }
    }

    /** Rows a write inserted and deleted, read back right after it, while
      * its snapshots still exist. */
    def readChanges(op: Op, v0: Long, v1: Long): Unit = {
      val t = op.tables.head
      val got = op.changes match {
        case "count" =>
          val d = lake.fastCount(t, Some(v1)).get -
            lake.fastCount(t, Some(v0)).get
          Some((math.max(d, 0L), math.max(-d, 0L)))
        case "feed" =>
          Some((lake.tableInsertions(t, v0, v1).count(),
            lake.tableDeletions(t, v0, v1).count()))
        case _ => None
      }
      got.foreach { case (i, d) =>
        changes.put(op.id.toString, java.util.List.of(i, d))
      }
    }

    def run(op: Op, phase: String): Unit = {
      val k0 = System.nanoTime()
      val before = lake.currentSnapshotId()
      // traced runs look at the catalog and storage around each op, outside
      // its timed interval
      val around = if (trace) Some(Around(
        op.tables.map(t => t -> liveFiles(lake, t)).toMap, listTree(dataDir),
        gcMs)) else None
      bookkeepingNs += System.nanoTime() - k0
      val sql = Placeholder.replaceAllIn(op.sql, m => m.group(1) match {
        case "snap" => snapAfter(m.group(2).toInt).toString
        case _ => markMs(m.group(2).toInt).toString
      })
      val startMs = System.currentTimeMillis()
      markMs(op.id) = startMs
      val t0 = System.nanoTime()
      var error: String = null
      var columns: Seq[String] = Nil
      var rows: Array[Row] = null
      try {
        val df = spark.sql(sql)
        rows = df.collect()
        columns = df.columns.toSeq
      } catch {
        case e: Throwable => error = e.toString.take(2000)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      val k1 = System.nanoTime()
      val nRows = if (rows == null) -1L else rows.length.toLong
      val digest = if (op.digest && rows != null) Digest.of(columns, rows)
        else null
      rows = null
      val after = lake.currentSnapshotId()
      snapAfter(op.id) = after
      // warm-up writes are checked by their answers and snapshots only
      if (error == null && phase == "timed") readChanges(op, before, after)
      val r = new java.util.LinkedHashMap[String, Any]()
      r.put("id", op.id); r.put("kind", op.kind); r.put("phase", phase)
      r.put("ms", ms); r.put("error", error); r.put("rows", nRows)
      r.put("digest", digest)
      r.put("snap_before", before); r.put("snap_after", after)
      results.add(r)
      if (trace && phase == "timed")
        traceOp(op, ms, startMs, endMs, after - before, nRows, around)
      bookkeepingNs += System.nanoTime() - k1
    }

    // ---- warm-up (untimed, inside set-up), then the timed window
    val warmT0 = System.nanoTime()
    ops(spec.get("warmup")).foreach(run(_, "warmup"))
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + buildS + warmupS

    System.gc()
    val gcBefore = gcMs
    val timed = ops(spec.get("timed"))
    val w0 = System.nanoTime()
    bookkeepingNs = 0L
    timed.foreach(run(_, "timed"))
    val windowS = (System.nanoTime() - w0 - bookkeepingNs) / 1e9
    val gcWindowMs = gcMs - gcBefore
    val heapTrail = fullGc()
    val heapMb = heapTrail.last
    tracer.foreach { t => t.drain(); t.unregister() }

    // ---- after the window: storage, properties, re-attach
    val post0 = System.nanoTime()
    val tables = strings(spec.get("tables"))
    val live = tables.map(liveFiles(lake, _))
    val missing = live.flatMap { case (d, x) =>
      (d.keySet ++ x).toSeq.filterNot(p => Files.exists(dataDir.resolve(p)))
    }
    val orphans = tables.flatMap(t => lake.deleteOrphanedFiles(t, dryRun = true))
    val dataBytes = listTree(dataDir).values.sum
    val catalogBytes = listTree(catDir).values.sum
    val snapshots = lake.snapshots().count()

    LakeSession.detach()
    lake.detach()
    val lake2 = LakeSession.attach(spark, catDir.toString, dataDir.toString)
    val counts = new java.util.LinkedHashMap[String, Any]()
    tables.foreach { t =>
      counts.put(t, spark.sql(s"SELECT COUNT(*) FROM graft.$t").head().getLong(0))
    }
    val exported = new java.util.LinkedHashMap[String, Any]()
    strings(spec.get("export")).foreach { t =>
      val p = work.resolve("export").resolve(t).toString
      spark.sql(s"SELECT * FROM graft.$t").write.parquet(p)
      exported.put(t, p)
    }
    LakeSession.detach()
    lake2.detach()

    val oracle = new java.util.LinkedHashMap[String, Any]()
    strings(spec.get("oracle")).foreach { q =>
      oracle.put(q, graft.SparkEntry.oracleSql(q))
    }

    out.put("post_s", (System.nanoTime() - post0) / 1e9)
    out.put("session_s", sessionS)
    out.put("build_s", buildS)
    out.put("setup_statement_s", statementS.asJava)
    out.put("warmup_s", warmupS)
    out.put("setup_s", setupS)
    out.put("window_s", windowS)
    out.put("gc_window_ms", gcWindowMs)
    out.put("heap_retained_mb", heapMb)
    out.put("heap_trail_mb", heapTrail.asJava)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    out.put("nproc", nproc)
    out.put("load_start", load0)
    out.put("load_end", loadAvg)
    out.put("ops", results)
    out.put("changes", changes)
    out.put("missing_files", missing.asJava)
    out.put("orphans", orphans.asJava)
    out.put("data_files", live.map(_._1.size).sum)
    out.put("delete_files", live.map(_._2.size).sum)
    out.put("data_bytes", dataBytes)
    out.put("catalog_bytes", catalogBytes)
    out.put("snapshots", snapshots)
    out.put("reattach_counts", counts)
    out.put("exported", exported)
    out.put("oracle", oracle)
    if (trace) {
      out.put("layers", layerRows)
      out.put("spans", spans)
    }
    mapper.writeValue(new File(args(1)), out)
    spark.stop()
  }

  /** Regular files under `root`, relative path -> bytes. */
  private def listTree(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).iterator().asScala
        .map(f => root.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
}
