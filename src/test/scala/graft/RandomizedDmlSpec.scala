package graft

import java.nio.file.Files

import scala.util.Random

import graft.catalog._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized DML model check: a deterministic random sequence of
  * append / delete / update / merge / compact / flush / rewrite ops runs
  * against BOTH the lake and an in-memory model. Invariants after every
  * op: table contents == model. At the end: time travel reproduces every
  * recorded snapshot exactly, and REPLAYING the change feed from the
  * start folds back to the final state (insert/update_postimage add,
  * delete/update_preimage retract, keyed by rowid) — the CDC feed is a
  * complete, minimal history of the random workload. */
@org.scalatest.tags.Slow
class RandomizedDmlSpec extends AnyFunSuite {
  import RandomizedDmlSpec.runSeed

  test("random DML sequences match the model (file-backed)") {
    runSeed(seed = 42L, ops = 25, inline = false)
  }

  test("random DML sequences match the model (inlining on)") {
    runSeed(seed = 1337L, ops = 25, inline = true)
  }
}

object RandomizedDmlSpec extends org.scalatest.Assertions {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private case class R(id: Long, v: Int, s: String)

  /** Runs the sequence of `seed`; `afterOp` sees the lake after each op,
    * once its contents matched the model. */
  def runSeed(seed: Long, ops: Int, inline: Boolean,
      afterOp: Lake => Unit = _ => ()): Unit = {
    val dir = Files.createTempDirectory(s"graftrand$seed").toString
    val lake = Lake.attach(spark, s"$dir/catalog", s"$dir/data")
    if (inline) lake.setOption("data_inlining_row_limit", "8")
    lake.createTable("t", StructType(Seq(
      StructField("id", LongType), StructField("v", IntegerType),
      StructField("s", StringType))))
    val rng = new Random(seed)
    var nextId = 0L
    val model = scala.collection.mutable.LinkedHashMap.empty[Long, R]
    // model state per snapshot for the time-travel sweep
    val history = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[R])]
    val v0 = lake.currentSnapshotId()

    def actual(): Set[R] =
      lake.table("t").as[(Long, Int, String)].collect()
        .map { case (a, b, c) => R(a, b, c) }.toSet

    def snap(): Unit = {
      val cur = lake.currentSnapshotId()
      if (history.isEmpty || history.last._1 != cur)
        history += ((cur, model.values.toSet))
    }

    (1 to ops).foreach { i =>
      rng.nextInt(10) match {
        case 0 | 1 | 2 => // append 1..30 rows
          val n = 1 + rng.nextInt(30)
          val rows = (0 until n).map { _ =>
            val r = R(nextId, rng.nextInt(100), s"s${rng.nextInt(10)}")
            nextId += 1
            r
          }
          lake.append("t",
            rows.map(r => (r.id, r.v, r.s)).toDF("id", "v", "s"))
          rows.foreach(r => model(r.id) = r)
          snap()
        case 3 | 4 => // delete a random slice
          val k = 2 + rng.nextInt(5)
          val rem = rng.nextInt(k)
          lake.delete("t", col("v") % k === rem)
          val dead = model.values.filter(r => r.v % k == rem).map(_.id)
          dead.foreach(model.remove)
          snap()
        case 5 | 6 => // update a random slice
          val k = 2 + rng.nextInt(5)
          val rem = rng.nextInt(k)
          val d = 1 + rng.nextInt(50)
          lake.update("t", Map("v" -> (col("v") + d)),
            col("id") % k === rem)
          model.mapValuesInPlace { (id, r) =>
            if (id % k == rem) r.copy(v = r.v + d) else r
          }
          snap()
        case 7 => // merge upsert: half hits, half new
          val hits = model.keys.take(3).toSeq
          val news = (0 until 2).map { _ =>
            val r = R(nextId, rng.nextInt(100), "m")
            nextId += 1
            r
          }
          val src = (hits.map(id => (id, 999, "upd")) ++
            news.map(r => (r.id, r.v, r.s))).toDF("id", "v", "s")
          lake.merge("t", src, "id",
            whenMatchedUpdate = Some(Map(
              "v" -> lit(999), "s" -> lit("upd"))))
          hits.foreach(id => model(id) = R(id, 999, "upd"))
          news.foreach(r => model(r.id) = r)
          snap()
        case 8 => // maintenance: compact or flush (no data change)
          if (rng.nextBoolean()) lake.mergeAdjacentFiles("t")
          else lake.flushInlinedData("t")
        case 9 => // rewrite heavily-deleted files (no data change)
          lake.rewriteDataFiles("t", deleteThreshold = 0.3)
      }
      assert(actual() == model.values.toSet,
        s"seed=$seed op#$i diverged from the model")
      afterOp(lake)
    }

    // time travel reproduces every recorded snapshot
    history.foreach { case (ver, expect) =>
      val got = lake.tableAtVersion("t", ver)
        .as[(Long, Int, String)].collect()
        .map { case (a, b, c) => R(a, b, c) }.toSet
      assert(got == expect, s"seed=$seed time travel to $ver diverged")
    }

    // CDC replay: fold the full change feed back to the final state
    val end = lake.currentSnapshotId()
    val folded = lake.tableChanges("t", v0, end)
      .withColumn("__sign", when(
        col("change_type").isin("insert", "update_postimage"), 1)
        .otherwise(-1))
      .groupBy(col("rowid"))
      .agg(sum(col("__sign")).as("alive"),
        // at the same snapshot the postimage (sign 1) outranks the
        // preimage (sign -1), so max picks the row's latest VALUES
        max(struct(col("snapshot_id"), col("__sign"),
          col("id"), col("v"), col("s"))).as("last"))
      .filter(col("alive") === 1)
      .select(col("last.id"), col("last.v"), col("last.s"))
      .as[(Long, Int, String)].collect()
      .map { case (a, b, c) => R(a, b, c) }.toSet
    assert(folded == model.values.toSet,
      s"seed=$seed CDC replay diverged from the final state")
    lake.detach()
  }
}
