package graft

import org.apache.spark.sql.SparkSession

/** The one place that decides session config. Every main and the test
  * session build through here, so the plans PlanAudit dumps are the
  * plans Bench times, and Verify checks the same engine both run. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees when it is unset. */
  private[graft] def cpusFrom(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) =>
      val n = s.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'")
      n
  }

  /** `local[cpus]` with GraftExtensions, shuffle partitions = cpus, UTC
    * session time, UI off and WARN logging; `conf` entries apply last,
    * so an ad-hoc experiment can override any of them. */
  def build(cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS")),
            conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // lz4 the RDD block store: the graph family's DISK_ONLY edge
      // blocks (duplicate-heavy node-id pairs) compress ~3×, which is
      // the difference between the sf10 iteration state fitting local
      // disk and overflowing it; negligible cost elsewhere (shuffle
      // blocks are compressed by default already)
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Ad-hoc conf from env var `name`, written "k=v;k2=v2" (empty
    * segments skipped); a segment without '=' fails naming the var. */
  def envConf(name: String): Seq[(String, String)] =
    sys.env.get(name).map(parseConf(name, _)).getOrElse(Nil)

  private[graft] def parseConf(name: String,
                               raw: String): Seq[(String, String)] =
    raw.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="), s"bad $name segment (want k=v): '$kv'")
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
}
