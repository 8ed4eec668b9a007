package graft.tools

import org.apache.spark.sql.functions._

/** Increment-cost FLATNESS measurement (round-13): does a fixed-size
  * daily batch cost the same against a small corpus and a large one?
  * The round-12 `curateIncrement` re-ran connectedComponents over the
  * whole accumulated pair graph per increment (twice), so increment
  * cost grew with corpus age; the contracted incremental CC clusters
  * only the batch's own (contracted) edges, so it should stay ~flat.
  *
  * For each corpus size: curate the corpus (artifact build — the cost
  * a corpus pays ONCE), then time `curateIncrement` of one fixed batch
  * against the landed artifacts, and a full `curate(corpus ∪ batch)`
  * rerun for contrast (the cost incrementality avoids). Staging and
  * caches are cleared between measurements so nothing warms across
  * corpus sizes. Emits one JSON line; lands BENCH_increment.json next
  * to build.sbt.
  *
  *   runMain graft.tools.IncrementBench [sfDir]
  */
object IncrementBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/testdata-sf1"))
    val spark = graft.GraftSession.build()
    val rates = Map("src1" -> 1.0, "src2" -> 1.0, "src3" -> 0.5,
      "src5" -> 0.8, "src7" -> 1.0, "src11" -> 0.25)
    val d = graft.engine.Sources.table(spark, sfDir, "documents")
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    // fixed batch: the top 10% of ids; corpora: growing prefixes that
    // all END at the batch boundary, so every increment sees the same
    // batch against 4×-varying history
    val batchLo = maxId * 9 / 10
    val batch = d.filter(col("doc_id") > batchLo)
    val sizes = Seq(maxId / 4, maxId / 2, batchLo)
    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val results = sizes.map { n =>
      graft.engine.Staging.clear()
      spark.catalog.clearCache()
      val corpus = d.filter(col("doc_id") > batchLo - n &&
        col("doc_id") <= batchLo)
      // the corpus build — the cost a corpus pays ONCE, artifacts
      // landed as parquet (the production daily shape)
      val artDir = java.nio.file.Files
        .createTempDirectory("incbench_art_").toString
      val (tCur, _) = time {
        val (_, art) = graft.Pipeline.curateWithArtifacts(spark, corpus,
          rates, "incbench", None)
        graft.Pipeline.writeArtifacts(art, artDir)
      }
      // the daily increment in a FRESH session over the landed
      // artifacts, with staging cleared — its time includes everything
      // a new day's first batch pays (banded-fp stage rebuilds from
      // the landed fp table, never from the corpus text)
      graft.engine.Staging.clear()
      spark.catalog.clearCache()
      val day = spark.newSession()
      val (tInc, counts) = time {
        val art = graft.Pipeline.readArtifacts(day, artDir)
        val dayBatch = graft.engine.Sources.table(day, sfDir, "documents")
          .filter(col("doc_id") > batchLo)
        val r = graft.Pipeline.curateIncrement(day, art, dayBatch, rates,
          "incbench")
        r._1.count() // drive the published output too
        r._3
      }
      val (tFull, _) = time(
        graft.Pipeline.curate(spark, corpus.unionByName(batch), rates,
          "incbench", None))
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(artDir)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      (n, tCur, tInc, tFull, counts.afterMix, counts.revokedCorpusDocs)
    }
    def f1(v: Double) = f"$v%.1f"
    val body = results.map { case (n, c, i, fr, mix, rev) =>
      s"""{"corpus_docs":$n,"curate_sec":${f1(c)},"increment_sec":${f1(i)},""" +
        s""""full_rerun_sec":${f1(fr)},"batch_mixed":$mix,"revoked":$rev}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"increment_flatness","unit":"sec","sf":"$sfDir","runs":$body}"""
    println(line)
    val out = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_INCBENCH_OUT", "/root/repo/BENCH_increment.json"))
    try java.nio.file.Files.writeString(out, line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[incbench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
