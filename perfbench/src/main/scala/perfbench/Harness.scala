package perfbench

import java.io.{File, FileInputStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, Pipeline, SparkEntry}
import graft.engine.{Sources, Staging}

/** JVM side of the benchmark. run.py chooses the inputs (query order per
  * pass, increment batch bounds) from the seed and passes them in a
  * properties file; this process only calls public engine entry points,
  * times them from outside, and writes every measurement as JSON.
  *
  *   Harness gen <dataRoot> <sf>...   generate FixtureGen data per sf
  *   Harness run <config.properties>  one benchmark run
  */
object Harness {
  import Json._

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" => generate(args(1), args.drop(2).toSeq)
    case "run" => run(load(args(1)))
    case other => sys.error(s"unknown mode $other")
  }

  private def load(path: String): Map[String, String] = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    p.asScala.toMap
  }

  /** The session graft.Bench builds, with scratch paths kept inside the
    * benchmark's work directory. */
  private def session(c: Map[String, String]): SparkSession = {
    val cores = c("cores")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c("local_dir"))
      .config("spark.sql.warehouse.dir", c("local_dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def generate(root: String, sfs: Seq[String]): Unit = {
    val c = Map("cores" -> sys.env.getOrElse("PERFBENCH_CORES", "4"),
      "local_dir" -> sys.props("java.io.tmpdir"))
    val spark = session(c)
    sfs.foreach { sf =>
      val t0 = System.nanoTime()
      graft.tools.FixtureGen.generate(spark, s"$root/sf$sf", sf.toDouble)
      println(obj("generated" -> sf, "seconds" -> (System.nanoTime() - t0) / 1e9))
    }
    spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full collection, taken after every query and
    * pipeline cycle (untimed), so its maximum does not depend on which
    * query a seeded order puts last. Collections repeat while the figure
    * still drops: Spark's ContextCleaner releases broadcast, shuffle and
    * checkpoint state only after a collection found it unreachable, so
    * the settled figure is the retained set rather than cleanup lag. */
  private def postGcHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var (last, cur, rounds) = (Double.MaxValue, collect(), 0)
    while (rounds < 8 && cur < last - 1.0) {
      Thread.sleep(100)
      last = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  private def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private val MixRates = Map("src1" -> 1.0, "src2" -> 1.0, "src3" -> 0.5,
    "src5" -> 0.8, "src7" -> 1.0, "src11" -> 0.25)
  private val MixSalt = "perfbench"

  private final class Run(c: Map[String, String]) {
    val queries: Seq[String] = c.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    val orders: Seq[Seq[String]] =
      if (queries.isEmpty) Nil else c("orders").split(";").map(_.split(",").toSeq).toSeq
    val curate = c.getOrElse("curate", "false").toBoolean
    val trace = c("trace") == "1"
    val queryRecs = ArrayBuffer[String]()
    val stepRecs = ArrayBuffer[String]()
    val passRecs = ArrayBuffer[String]()
    val traceRecs = ArrayBuffer[String]()
    var tracer: Option[Tracer] = None

    def span(spark: SparkSession, s: String): Unit =
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s)

    /** One query: construct through SparkEntry, then drive the full plan
      * into the noop sink. Returns its wall seconds, or None if it threw. */
    def query(spark: SparkSession, dir: String, name: String, id: String,
              pass: Int, traced: Boolean): Option[Double] = {
      spark.catalog.clearCache()
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var constructed = 0.0
      var mid = start
      val result = try {
        span(spark, s"$id/construct")
        val df = SparkEntry.queries(name)(spark, dir)
        constructed = secs(t0); mid = System.currentTimeMillis()
        span(spark, s"$id/execute")
        df.write.mode("overwrite").format("noop").save()
        Right(secs(t0))
      } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
      finally span(spark, "")
      if (pass >= 0)
        queryRecs += obj("id" -> id, "name" -> name, "pass" -> pass, "traced" -> traced,
          "ok" -> result.isRight, "error" -> result.left.toOption,
          "wall_s" -> result.toOption, "construct_s" -> constructed,
          "start_ms" -> start, "mid_ms" -> mid, "end_ms" -> System.currentTimeMillis())
      result.toOption
    }

    /** One curate → land → fresh-session increment cycle (the daily
      * Velocity path). Pipeline outputs are digested so run.py can check
      * them against the recorded expectations. */
    def pipeline(spark: SparkSession, dir: String, id: String, cycle: Int, pass: Int,
                 traced: Boolean): Double = {
      // one batch slice per cycle, so a recording run covers every slice
      def bound(k: String): Long = {
        val xs = c(k).split(",")
        xs(cycle % xs.length).trim.toLong
      }
      val (lo, mid, hi) = (bound("corpus_lo"), bound("batch_lo"), bound("batch_hi"))
      val artDir = Paths.get(c("local_dir"), s"artifacts_$id")
      deleteTree(artDir)
      var total = 0.0
      def step[A](name: String, s: SparkSession)(f: => A): Either[String, A] = {
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        span(s, s"$id/$name")
        val r = try Right(f) catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
        finally span(s, "")
        val wall = secs(t0)
        if (r.isRight) total += wall
        stepRecs += obj("id" -> s"$id/$name", "step" -> name, "pass" -> pass,
            "traced" -> traced, "ok" -> r.isRight, "error" -> r.left.toOption,
            "wall_s" -> wall, "start_ms" -> start, "end_ms" -> System.currentTimeMillis())
        r
      }
      Staging.clear(); spark.catalog.clearCache()
      val docs = Sources.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") > lo && col("doc_id") <= mid)
      val cur = step("curate", spark) {
        Pipeline.curateWithArtifacts(spark, corpus, MixRates, MixSalt, None)
      }
      val wrote = cur.toOption.flatMap { case (_, art) =>
        step("write_artifacts", spark)(Pipeline.writeArtifacts(art, artDir.toString)).toOption
      }
      val artBytes = if (wrote.isDefined) treeBytes(artDir) else 0L
      Staging.clear(); spark.catalog.clearCache()
      val day = spark.newSession()
      tracer.foreach(t => if (traced) day.listenerManager.register(t))
      val inc = wrote.flatMap { _ =>
        step("read_artifacts", day)(Pipeline.readArtifacts(day, artDir.toString)).toOption
      }.flatMap { art =>
        step("increment", day) {
          val batch = Sources.table(day, dir, "documents")
            .filter(col("doc_id") > mid && col("doc_id") <= hi)
          val (published, _, counts) =
            Pipeline.curateIncrement(day, art, batch, MixRates, MixSalt)
          val cols = published.columns.sorted.map(col).toSeq
          val d = published.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(2147483647L))))
            .head()
          (counts, d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1))
        }.toOption
      }
      deleteTree(artDir)
      stepRecs += obj("id" -> s"$id/outputs", "step" -> "outputs", "pass" -> pass,
          "bounds" -> Seq(lo, mid, hi),
          "stage_counts" -> cur.toOption.map(_._1.productIterator.toSeq),
          "increment_counts" -> inc.map(_._1.productIterator.toSeq),
          "published_rows" -> inc.map(_._2), "published_digest" -> inc.map(_._3),
          "artifact_bytes" -> artBytes,
          "input_bytes" -> new File(s"$dir/documents.parquet").length())
      total
    }

    def pass(spark: SparkSession, dir: String, order: Seq[String], p: Int,
             traced: Boolean, settling: Boolean = false): Double = {
      Staging.clear(); spark.catalog.clearCache()
      var heap = 0.0
      val total = order.zipWithIndex.flatMap { case (q, i) =>
        val t = query(spark, dir, q, s"p$p.q$i", p, traced)
        heap = heap max postGcHeapMb()
        t
      }.sum
      passRecs += obj("pass" -> p, "traced" -> traced, "settle" -> settling,
        "total_s" -> total, "post_gc_heap_mb" -> heap)
      total
    }

    val warmRecs = ArrayBuffer[(String, Double)]()

    def warmUp(spark: SparkSession): Unit = {
      Staging.clear()
      queries.foreach { q =>
        val t0 = System.nanoTime()
        query(spark, c("warm_dir"), q, "warm", -1, traced = false)
        warmRecs += (q -> secs(t0))
      }
      Staging.clear(); spark.catalog.clearCache()
    }

    def execute(): String = {
      val spark = session(c)
      val sessionReady = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      warmUp(spark)
      // set-up as a fresh process pays it: JVM start to the first timed call
      val setup = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      val dir = c("sf_dir")
      val budget = c("seconds").toDouble
      // A traced run settles the JIT with one untraced pass, then
      // alternates untraced and traced passes, so tracing overhead is
      // measured in one process on the same inputs.
      val cycle = if (trace) 2 else 1
      val settle = if (trace) 1 else 0
      val minPasses = settle + cycle
      val started = System.nanoTime()
      var p = 0
      def traced[A](on: Boolean)(body: => A): A = {
        if (on) {
          val t = new Tracer
          spark.sparkContext.addSparkListener(t)
          spark.listenerManager.register(t)
          tracer = Some(t)
        }
        try body finally tracer.foreach { t =>
          t.settle(); traceRecs ++= t.drain()
          spark.sparkContext.removeSparkListener(t)
          spark.listenerManager.unregister(t)
          tracer = None
        }
      }
      while (p < orders.size &&
          (p < minPasses || (p - settle) % cycle != 0 || secs(started) < budget)) {
        val on = trace && p >= settle && (p - settle) % 2 == 1
        traced(on)(pass(spark, dir, orders(p), p, on, p < settle))
        p += 1
      }
      // The curate/increment cycle runs once per run, after the query
      // passes and without its own warm-up: a daily increment is a fresh
      // process, so its first-use costs are part of what it measures.
      if (curate) for (i <- 0 until c.getOrElse("cycles", "1").toInt) {
        val total = traced(trace)(pipeline(spark, dir, s"c$i", i, p + i, trace))
        passRecs += obj("pass" -> (p + i), "traced" -> trace, "pipeline" -> true,
          "total_s" -> total, "post_gc_heap_mb" -> postGcHeapMb())
      }
      val measured = secs(started)
      val conf = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.rdd.compress",
        "spark.sql.session.timeZone", "spark.ui.enabled", "spark.sql.extensions",
        "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k).getOrElse(""))
      spark.stop()
      obj("workload" -> c("workload"), "setup_s" -> setup,
        "session_ready_s" -> sessionReady, "warm_up_s" -> warmRecs.toMap,
        "measured_s" -> measured, "passes" -> passRecs.map(Raw).toSeq,
        "queries" -> queryRecs.map(Raw).toSeq, "steps" -> stepRecs.map(Raw).toSeq,
        "trace" -> traceRecs.map(Raw).toSeq, "spark_conf" -> conf.toMap,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> org.apache.spark.SPARK_VERSION)
    }
  }

  private def run(c: Map[String, String]): Unit = {
    val out = new Run(c).execute()
    Files.writeString(Paths.get(c("out")), out + "\n")
  }
}
