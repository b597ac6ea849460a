package graft.catalog

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeMap, AttributeReference, BindReferences,
  NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.{AggregatingAccumulator, SQLExecution}
import org.apache.spark.sql.execution.datasources.{
  FileFormatWriter, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.DatasetBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Lake Parquet writes: one Spark job through `FileFormatWriter`, with a
  * stats tracker that sees every row of every file in the task writing it
  * (the hook Delta's `DeltaJobStatisticsTracker` uses). Per-file stats and
  * delete-file counts therefore arrive with the job's task results; no
  * file is read back (reference `DuckLakeInsert` takes them from the
  * rows its Parquet COPY returns, ducklake_insert.cpp:119-242). */
private[catalog] object LakeWrite {

  /** Write `df` as Parquet under `dir`, hive directories for the
    * `partitionBy` columns, `options` as the DataFrame writer takes them
    * (codec, `maxRecordsPerFile`, parquet-hadoop keys). */
  def parquet(df: DataFrame, dir: String, partitionBy: Seq[String],
      options: Map[String, String], tracker: WriteJobStatsTracker): Unit = {
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("lake write")) {
      val plan = qe.executedPlan
      val committer = FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        jobId = UUID.randomUUID().toString, outputPath = dir)
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output),
        session.sessionState.newHadoopConfWithOptions(options),
        partitionBy.map(n => plan.output.find(_.name == n).get), None,
        Seq(tracker), options): Unit
    }
  }

  /** The last `n` segments of a path string as a committer renders it
    * (Hadoop `Path.toString`: no URL escaping; hive dir values keep the
    * writer's own `%XX` escapes). */
  def tail(path: String, n: Int): String =
    path.split('/').takeRight(n).mkString("/")
}

/** One written data file: its path under the write's output directory
  * (hive dirs included), the stats aggregate over its rows, and its
  * footer's row-group count (None when the footer is encrypted). */
private[catalog] final case class WrittenFile(relPath: String,
    stats: InternalRow, rowGroups: Option[Long])

private[catalog] final case class WrittenFiles(files: Seq[WrittenFile])
    extends WriteTaskStats

/** Per-file stats of a data write. Each task keeps one aggregating
  * evaluator per open file over the stats aggregates (Spark's own
  * `AggregatingAccumulator`, which runs `Dataset.observe`), fed the rows
  * the writer writes, after `prepare` adds the derived columns the
  * aggregates read. `depth` = number of hive partition dirs. */
private[catalog] final class FileStatsTracker(
    leaf: Seq[Attribute], prepare: Seq[NamedExpression],
    aggs: Seq[NamedExpression], schema: StructType, depth: Int,
    rowGroupsFrom: Option[LakeIO]) extends WriteJobStatsTracker {

  @transient private lazy val collected = mutable.ArrayBuffer.empty[WrittenFile]

  /** Files with at least one row, as (path under the output dir, stats
    * row with [[schema]]), in path order. */
  def files: Seq[(WrittenFile, Row)] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    collected.toSeq.sortBy(_.relPath)
      .map(f => f -> toRow(f.stats).asInstanceOf[Row])
  }

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val project =
        if (prepare == leaf) None
        else Some(UnsafeProjection.create(
          BindReferences.bindReferences(prepare, leaf)))
      private val input = prepare.map(_.toAttribute)
      private val open = mutable.HashMap.empty[String, AggregatingAccumulator]
      private var spare = List.empty[AggregatingAccumulator]
      private val done = mutable.ArrayBuffer.empty[WrittenFile]

      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit = {
        val acc = spare match {
          case a :: rest => spare = rest; a
          case Nil => AggregatingAccumulator(aggs, input)
        }
        open(path) = acc
      }
      override def newRow(path: String, row: InternalRow): Unit =
        open(path).add(project.fold(row)(_(row)))
      override def closeFile(path: String): Unit = {
        val acc = open.remove(path).get
        val stats = acc.value.copy()
        acc.reset()
        spare ::= acc
        // `__rows` leads the aggregates; an empty part is no data file
        if (stats.getLong(0) > 0)
          done += WrittenFile(LakeWrite.tail(path, depth + 1), stats,
            rowGroupsFrom.map(_.rowGroupCount(path)))
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        WrittenFiles(done.toSeq)
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    stats.foreach { case WrittenFiles(fs) => collected ++= fs }
}

private[catalog] object FileStatsTracker {

  /** The tracker for writes of `dataSchema` rows: `prepare` and `aggs`
    * are analyzed over an empty relation of that schema, and the chain
    * of projections `prepare` adds is folded into one list over it. */
  def apply(spark: SparkSession, dataSchema: StructType,
      prepare: DataFrame => DataFrame, aggs: Seq[Column], depth: Int,
      rowGroupsFrom: Option[LakeIO]): FileStatsTracker = {
    val rel = LocalRelation(dataSchema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()))
    val agg = prepare(DatasetBridge.ofRows(spark, rel))
      .agg(aggs.head, aggs.tail: _*).queryExecution.analyzed
    agg match {
      case a: Aggregate =>
        new FileStatsTracker(rel.output, fold(a.child, rel),
          a.aggregateExpressions, a.schema, depth, rowGroupsFrom)
      case other => throw new IllegalStateException(
        s"stats aggregate analyzed to an unexpected plan:\n$other")
    }
  }

  private def fold(plan: LogicalPlan,
      leaf: LocalRelation): Seq[NamedExpression] = plan match {
    case l: LocalRelation if l.output == leaf.output => l.output
    case Project(list, child) =>
      val below = AttributeMap(fold(child, leaf).map(e => e.toAttribute -> e))
      list.map {
        case a: Attribute => below.getOrElse(a, a)
        case e => e.transformUp {
          case a: Attribute if below.contains(a) => below(a) match {
            case Alias(c, _) => c
            case x => x
          }
        }.asInstanceOf[NamedExpression]
      }
    case other => throw new IllegalStateException(
      s"stats preparation analyzed to an unexpected plan:\n$other")
  }
}

/** Rows per data file of a positional delete write: each task counts the
  * `file_path` values of every part it writes. */
private[catalog] final class DeleteCountTracker(fileCol: Int)
    extends WriteJobStatsTracker {

  @transient private lazy val collected =
    mutable.ArrayBuffer.empty[(String, Map[String, Long])]

  /** (part file name, data file → positions) of every non-empty part */
  def parts: Seq[(String, Map[String, Long])] = collected.toSeq

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val open = mutable.HashMap.empty[String, mutable.Map[String, Long]]
      private val done = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
      // a part's rows arrive sorted by file_path: count runs, not rows
      private var run: UTF8String = null
      private var runPath: String = null
      private var runRows = 0L
      private def endRun(): Unit = if (run != null) {
        val n = open(runPath)
        val f = run.toString
        n(f) = n.getOrElse(f, 0L) + runRows
        run = null
      }
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit =
        open(path) = mutable.HashMap.empty[String, Long]
      override def newRow(path: String, row: InternalRow): Unit = {
        val f = row.getUTF8String(fileCol)
        if (run != null && (path eq runPath) && f == run) runRows += 1
        else {
          endRun()
          run = f.clone()
          runPath = path
          runRows = 1L
        }
      }
      override def closeFile(path: String): Unit = {
        endRun()
        val n = open.remove(path).get
        if (n.nonEmpty) done += (LakeWrite.tail(path, 1) -> n.toMap)
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        DeleteCounts(done.toSeq)
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    stats.foreach { case DeleteCounts(ps) => collected ++= ps }
}

private[catalog] final case class DeleteCounts(
    parts: Seq[(String, Map[String, Long])]) extends WriteTaskStats
