package graft

import graft.catalog.Catalog
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries (bench=true in the catalog) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      // the sf0.1 tables are single ~1-10 MB parquet files; at the default
      // 128 MB split size every scan starts as ONE task and local[32] idles
      // (measured: dd_line_dedup ran FASTER at sf1 purely because the 10×
      // data was written 32-way). 4 MB splits restore scan parallelism at
      // the small end and are a no-op at real scale, where files span many
      // blocks anyway.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // exchange width tracks input volume (the sf10 dedup spill was a
    // partition-count problem, not a plan problem — SCALE.md §12)
    val initP = graft.util.ShuffleScaling.tuneFor(spark, sfDir)
    System.err.println(s"[bench] initialPartitionNum=$initP for $sfDir")

    // driver contract: default headline set = bench-flagged catalog entries.
    // SPARK_GRAFT_BENCH_QUERIES (comma-separated names) selects an explicit
    // set instead — used by the SCALE.md decade campaigns to time query
    // families (pipe_*, dd_cluster_priority, …) that aren't headline rows.
    val headline = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(list) =>
        list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(Catalog.byName)
      case None => Catalog.all.filter(_.bench)
    }
    // warm-up: run every headline query once at the smallest SF so the
    // measured numbers reflect steady-state throughput (codegen compiled,
    // JIT warm — what a long-running cluster actually sees) instead of
    // first-query JVM warmup landing on whichever query runs first
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) headline.foreach { q =>
      try q.run(spark, warmDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }
    else spark.read.parquet(s"$sfDir/region.parquet").count()

    // ---- contention sentinel (VERDICT r16 "what's wrong" #1): two
    // rounds of adjudication were burned on driver bench captures
    // inflated 2-3× by box state, with nothing in the artifact to tell
    // a contended capture from a regression. Each attempt therefore
    // records process CPU (utime/stime from /proc/self/stat — the
    // whole-JVM user/kernel split) and /proc/loadavg around it; an
    // attempt whose kernel share or ambient load is anomalous triggers
    // a THIRD attempt (min-of-2 cannot reject a spike spanning both),
    // and the winning attempt's telemetry ships in the JSON so an
    // inflated row is machine-diagnosable without a judge re-run.
    final case class Attempt(wall: Double, user: Double, sys: Double,
      load0: Double, load1: Double)
    def procCpu(): (Double, Double) =
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
        // fields 14/15 (utime/stime) counted AFTER the ')' — comm may
        // contain spaces; USER_HZ is 100 on every Linux this runs on
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        (rest(11).toDouble / 100.0, rest(12).toDouble / 100.0)
      } catch { case _: Throwable => (-1.0, -1.0) }
    def loadavg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val nCpus = cpus.toInt
    val loadStart = loadavg()
    // anomalous = the kernel ate a large share of a non-trivial run
    // (healthy Spark rows here measure sys ≪ user), or ambient load
    // already exceeded the worker's own width before it started
    def contendedAttempt(a: Attempt): Boolean =
      a.wall > 1.0 && ((a.user > 0 && a.sys > 0.5 * a.user) ||
        (math.max(a.load0, a.load1) > 1.5 * nCpus))
    val results = headline.map { q =>
      def once(): Attempt = {
        // measurement-honesty (r18): operators that persist() an
        // intermediate register it in the CacheManager KEYED ON THE
        // LOGICAL PLAN, so a second attempt of the same query would
        // silently read the first attempt's cache and time only the
        // post-cache tail (observed: "Asked to cache already cached
        // data" on the LM rows' count tables). Every attempt must
        // compute from the parquet inputs — drop all cached data
        // before the timer starts.
        spark.catalog.clearCache()
        val l0 = loadavg()
        val (u0, s0) = procCpu()
        val t0 = System.nanoTime()
        try { q.run(spark, sfDir).write.mode("overwrite").format("noop").save() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name}: ${e.getMessage}")
          return Attempt(-1.0, -1.0, -1.0, l0, loadavg()) }
        val wall = (System.nanoTime() - t0) / 1e9
        val (u1, s1) = procCpu()
        Attempt(wall, u1 - u0, s1 - s0, l0, loadavg())
      }
      var attempts = List(once(), once())
      if (attempts.forall(a => a.wall < 0 || contendedAttempt(a)) &&
          attempts.exists(_.wall >= 0))
        attempts = once() :: attempts
      val ok = attempts.filter(_.wall >= 0)
      val best = if (ok.isEmpty) Attempt(-1.0, -1.0, -1.0, -1.0, -1.0)
        else ok.minBy(_.wall)
      if (contendedAttempt(best))
        System.err.println(f"[bench] WARN ${q.name}: best attempt still " +
          f"contended (wall ${best.wall}%.2f s, user ${best.user}%.2f s, " +
          f"sys ${best.sys}%.2f s, load ${best.load0}%.1f)")
      (q.name, best, attempts.length)
    }
    val qs = results.map { case (k, a, _) =>
      "\"" + k + "\":" + f"${a.wall}%.3f" }.mkString("{", ",", "}")
    val tel = results.map { case (k, a, n) =>
      "\"" + k + "\":" + f"""{"user":${a.user}%.2f,"sys":${a.sys}%.2f,""" +
        f""""load0":${a.load0}%.2f,"load1":${a.load1}%.2f,"attempts":$n}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.wall).filter(_ >= 0).sum
    // capture self-rejection (VERDICT r17 "what's wrong" #1): the
    // headline `value` silently sums contended rows, so the ARTIFACT
    // itself must refuse to look healthy. Rule (documented in SCALE.md):
    // a capture is "contended" when ambient load at start exceeded
    // 1.5× the worker's width, or when >20% of measured rows kept an
    // anomalous kernel share / ambient load on their BEST attempt —
    // a total from such a run must never be read as a regression
    // without opening per-row telemetry.
    val contendedRows = results.count { case (_, a, _) =>
      a.wall >= 0 && contendedAttempt(a) }
    val measured = results.count(_._2.wall >= 0)
    val loadEnd = loadavg()
    val captureVerdict =
      if (loadStart > 1.5 * nCpus ||
          (measured > 0 && contendedRows > 0.2 * measured)) "contended"
      else "clean"
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
        f""""telemetry":$tel,"loadavg_start":$loadStart%.2f,""" +
        f""""loadavg_end":$loadEnd%.2f,"cpus":$nCpus,""" +
        f""""contended_rows":$contendedRows,"capture":"$captureVerdict",""" +
        f""""sf":"$sfDir"}"""
    println(json)
    // the driver scrapes the sbt log for this line and log interleaving has
    // made that flaky ("parsed": null in BENCH_r08.json) — ALSO write the
    // metric JSON to a clean file so rounds are machine-diffable without
    // log archaeology. SPARK_GRAFT_BENCH_OUT overrides the path (campaign
    // scripts point it at their own result dirs).
    //
    // r19 (VERDICT r18 "what's wrong" #1): BENCH_LAST.json holds whichever
    // run was LAST — when the driver's 8-core scaling leg runs after the
    // 32-core capture, a naive reader compares a c8 total against 32-core
    // history. Every run therefore ALSO writes a per-core-count artifact
    // (BENCH_LAST_c<cpus>.json) so the two legs never overwrite each other
    // and rounds are diffable per leg without log archaeology.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    def writeArtifact(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
    writeArtifact(outPath)
    writeArtifact(outPath.replaceAll("\\.json$", "") + s"_c$nCpus.json")
    spark.stop()
    // last stdout line after Spark's shutdown chatter (which goes to
    // stderr) — gives log scrapers a clean final line too. Tagged, so a
    // scraper that sums or uniquely-matches the bare JSON pattern sees
    // exactly one untagged line; take-the-last scrapers strip the tag.
    println("graft-bench-final: " + json)
    // ≤1 KB tagged summary (VERDICT r18 #1: the full per-query line is
    // long enough that tail-captures truncate it mid-row — BENCH_r17/r18
    // both carry "parsed": null). This short line survives any tail
    // capture; the per-query map lives in the files above. Tagged, so
    // bare-JSON scrapers still see exactly one untagged line.
    println(f"""graft-bench-summary: {"metric":"total","value":$total%.3f,""" +
      f""""unit":"sec","n":$measured,"cpus":$nCpus,"sf":"$sfDir",""" +
      f""""contended_rows":$contendedRows,"capture":"$captureVerdict"}""")
    System.out.flush()
  }
}
