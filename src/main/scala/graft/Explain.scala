package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints `explain("formatted")` for named queries from
  * [[SparkEntry.queries]] without running them.
  *
  *   Explain <sfDir> <name>[,name...]
  *
  * Env: SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_SHUFFLE (default 32),
  * SPARK_GRAFT_AQE=true to audit the AQE-planned shape instead, and
  * SPARK_GRAFT_CONF="k=v;k=v" for any further session conf (e.g. the
  * bench's autoBroadcastJoinThreshold) so a captured plan matches the
  * environment a bench block actually planned under.
  */
object Explain {
  /** `SPARK_GRAFT_CONF="k=v;k=v"` → (key, value) pairs, shared by Explain
    * and Bench. Fails fast on an entry without '=': a silently dropped
    * typo would plan under the WRONG environment — the exact mismatch a
    * captured plan or a timed block must not hide. */
  private[graft] def confEntries(raw: Option[String]): Seq[(String, String)] = {
    val entries = raw.toSeq.flatMap(_.split(";")).map(_.trim)
      .filter(_.nonEmpty)
    val bad = entries.filterNot(_.contains("="))
    require(bad.isEmpty,
      s"SPARK_GRAFT_CONF entries without '=': ${bad.mkString(", ")}")
    entries.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = confEntries(sys.env.get("SPARK_GRAFT_CONF"))
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (n <- names) {
      println(s"=== $n ===")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
