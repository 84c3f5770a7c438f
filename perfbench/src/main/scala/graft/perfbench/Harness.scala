package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.Engine
import graft.catalog.Catalog
import graft.exec.{MappingCompiler, Sinks}
import graft.mapping.MappingParser
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** JVM side of the benchmark. One process, one Spark session, one job at a
  * time (closed loop). It sets up (session + one warm-up pass), runs the
  * timed workload `--reps` times, optionally runs the traced layer ladder,
  * and writes everything it measured to `--report` as JSON. Output checks
  * run afterwards in `run.py`, outside this process.
  *
  * Usage: Harness --workload kg_wide_nt|ops_curation --inputs DIR --warm DIR
  *   --work DIR --reps N --trace 0|1 --cores N --report FILE
  */
object Harness {

  /** The catalog rows of the ops_curation workload, run in this order. */
  val OpsRows: Seq[String] =
    Seq("dd_cluster_pipeline", "txt_lm_kneser_ney", "mm_phash_cluster", "web_frontier_zipf")

  /** The settings `graft.cli.Main.buildSession` uses, fixed here rather than
    * read from the environment so every commit under comparison runs the
    * same session. Spark's scratch space stays inside the work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Rep(wall: Double, user: Double, sys: Double, peakMb: Double,
      managedMb: Double, steal: Double, load0: Double, load1: Double, unitRecords: Seq[Long],
      cachedAfter: Boolean, out: String, error: Option[String]) {
    def toMap: Map[String, Any] = Map("wall_s" -> wall, "cpu_s" -> (user + sys),
      "user_s" -> user, "sys_s" -> sys, "peak_heap_mb" -> peakMb, "peak_managed_mb" -> managedMb,
      "steal_s" -> steal,
      "load_start" -> load0, "load_end" -> load1, "records" -> unitRecords.sum,
      "unit_records" -> unitRecords,
      "cached_after" -> cachedAfter, "out" -> out, "error" -> error)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val nReps = a("reps").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val loadAtStart = Proc.load1()
    val (u00, s00) = Proc.cpu()
    HeapWatch.install()
    val spans = new Spans

    val spark = spans("setup.session")(session(cores, work))
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "trace" -> trace,
      "load_start" -> loadAtStart)
    try {
      val body: Workload = workload match {
        case "kg_wide_nt" => new KgWorkload(spark, inputs, a("warm"), work)
        case "ops_curation" => new OpsWorkload(spark, inputs, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      spans("setup.warmup")(body.warmUp())
      report("setup_s") = Proc.uptimeMs() / 1000.0

      val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
      while (reps.size < nReps && !reps.exists(_.error.isDefined))
        reps += spans(s"rep-${reps.size}")(timedRep(spark, work, reps.size, body))
      report("reps") = reps.map(_.toMap).toSeq

      if (trace) {
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        report("layers") = spans("ladder")(body.traced(counters, spans))
      }
      val (u1, s1) = Proc.cpu()
      report("process_user_s") = u1 - u00
      report("process_sys_s") = s1 - s00
      report("load_end") = Proc.load1()
      report("spans") = spans.toSeq
      report("ok") = true
    } catch {
      case e: Throwable =>
        report("ok") = false
        report("error") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a("report")), json(report.toMap))
      spark.stop()
    }
  }

  /** One timed execution: caches dropped and the heap collected first, so
    * each repetition computes from its inputs and starts from the same heap.
    */
  private def timedRep(spark: SparkSession, work: String, k: Int, body: Workload): Rep = {
    val out = s"$work/rep-$k"
    val l0 = Proc.load1()
    var wall, user, sys = 0.0
    var peak, managed, steal = 0.0
    val records = scala.collection.mutable.ArrayBuffer.empty[Long]
    val error = try {
      body.units(out).foreach { unit =>
        spark.catalog.clearCache()
        HeapWatch.reset()
        val (u0, s0) = Proc.cpu()
        ManagedWatch.start()
        val st0 = Proc.stealSeconds()
        val t0 = System.nanoTime()
        records += unit()
        wall += (System.nanoTime() - t0) / 1e9
        steal += Proc.stealSeconds() - st0
        managed = math.max(managed, ManagedWatch.stop())
        val (u1, s1) = Proc.cpu()
        user += u1 - u0; sys += s1 - s0
        peak = math.max(peak, HeapWatch.peakMb())
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    Rep(wall, user, sys, peak, managed, steal, l0, Proc.load1(), records.toSeq,
      !spark.sharedState.cacheManager.isEmpty, out, error)
  }

  /** Seconds between two nanoTime readings around `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def json(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Run `df` into a noop sink while counting its rows with an observation. */
  def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Regular files under `dir` that are not Hadoop side files: (count, bytes). */
  def dataFiles(dir: String): (Int, Long) = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (fs.length, fs.map(_.length).sum)
  }

  /** Spark counters over `body`: jobs, stages, tasks, task CPU, shuffle and
    * spill volume, JVM GC time and the wall time no job was running.
    */
  def sparkCounters(spark: SparkSession, c: SparkCounters)(body: => Unit): Map[String, Any] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val before = c.snapshot()
    val gc0 = Proc.gcSeconds()
    val t0 = System.currentTimeMillis()
    body
    val t1 = System.currentTimeMillis()
    val gc1 = Proc.gcSeconds()
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val d = c.snapshot().zip(before).map { case (x, y) => x - y }
    Map("spark.jobs" -> d(0), "spark.stages" -> d(1), "spark.tasks" -> d(2),
      "spark.task_cpu_s" -> d(3) / 1e9,
      "spark.shuffle_write_mb" -> d(4) / 1048576.0,
      "spark.shuffle_read_mb" -> d(5) / 1048576.0,
      "spark.spill_mb" -> d(6) / 1048576.0,
      "spark.gc_s" -> (gc1 - gc0),
      "spark.driver_only_s" -> (t1 - t0 - c.jobCoveredMs(t0, t1)) / 1000.0,
      "spark.wall_s" -> (t1 - t0) / 1000.0)
  }
}

/** What a workload contributes to the harness. */
trait Workload {
  /** The warm-up pass that ends set-up. */
  def warmUp(): Unit
  /** The timed units of one repetition, each writing under `out` and
    * returning the records it produced.
    */
  def units(out: String): Seq[() => Long]
  /** The traced run: per-layer metrics, with `trace.wall_s` the traced
    * counterpart of one untraced repetition's wall time.
    */
  def traced(c: SparkCounters, spans: Spans): Map[String, Any]
}

/** `kg_wide_nt`: the generated mapping through `Engine.run` to N-Triples. */
final class KgWorkload(spark: SparkSession, inputs: String, warm: String, work: String)
    extends Workload {
  import Harness._

  private def mapping(dir: String) = Files.readString(Paths.get(dir, "mapping.ttl"))
  private val ttl = mapping(inputs)
  private val config = Engine.Config(outputFormat = "n-triples")
  private def run(mappingTtl: String, dir: String, out: String): Long =
    Engine.run(spark, mappingTtl, dir, out, config)

  def warmUp(): Unit = { run(mapping(warm), warm, s"$work/warm"); () }

  def units(out: String): Seq[() => Long] = Seq(() => run(ttl, inputs, out))

  /** The cumulative ladder. Each rung re-runs the pipeline from the scan up
    * to one more layer; rung k's self time is rung k minus rung k-1. Every
    * rung runs under the exchange width `Engine.run` sets for these inputs.
    * The self times telescope to the traced `Engine.run` wall, so the ladder
    * shows what it misses through its negative self times: a layer the
    * rungs cannot separate reads below zero and inflates another.
    */
  def traced(c: SparkCounters, spans: Spans): Map[String, Any] = {
    graft.util.ShuffleScaling.tuneFor(spark, inputs)
    val opts = MappingCompiler.Options()
    def rung[T](name: String)(body: => T): (Double, T) = {
      spark.catalog.clearCache()
      HeapWatch.reset()
      var r: Option[T] = None
      val s = spans(name)(timed { r = Some(body) })
      (s, r.get)
    }
    var doc: graft.model.MappingDoc = null
    val parseS = spans("mapping.parse")(timed { doc = MappingParser.parse(ttl, inputs) })
    var perTm: Seq[DataFrame] = Nil
    val compileS = spans("exec.compile")(timed {
      perTm = MappingCompiler.compilePerTm(spark, doc, opts).map(_._2) })
    val all = perTm.reduceLeftOption(_.unionByName(_))
      .getOrElse(MappingCompiler.emptyQuads(spark))
    val deduped = MappingCompiler.dedupQuads(spark, all, opts)
    val sources = doc.triplesMaps.map(_.source).distinctBy(_.id)

    val (scan, rowsIn) = rung("rung.scan")(
      sources.map(src => noopCount(SourceReader.read(spark, src))).sum)
    val (terms, emitted) = rung("rung.terms")(noopCount(all))
    val (dedup, kept) = rung("rung.dedup")(noopCount(deduped))
    val (render, _) = rung("rung.render")(noop(Sinks.ntLines(deduped)))
    val writeDir = s"$work/ladder-write"
    val (write, _) = rung("rung.write")(Sinks.writeNt(deduped, writeDir))
    val (files, bytes) = dataFiles(writeDir)
    var counters = Map.empty[String, Any]
    var engine = 0.0
    var records = 0L
    rung("rung.engine") {
      counters = sparkCounters(spark, c) {
        engine = timed { records = run(ttl, inputs, s"$work/ladder-engine") }
      }
    }
    val selfTimes = Seq(scan, terms - scan, dedup - terms, render - dedup, write - render, engine - write)
    Map("mapping.parse_s" -> parseS, "exec.compile_s" -> compileS,
      "sources.scan_s" -> scan, "sources.rows_in" -> rowsIn,
      "exec.terms_s" -> (terms - scan), "exec.quads_emitted" -> emitted,
      "dedup.self_s" -> (dedup - terms), "dedup.quads_removed" -> (emitted - kept),
      "dedup.removed_ratio" -> (if (emitted > 0) (emitted - kept).toDouble / emitted else 0.0),
      "sinks.render_s" -> (render - dedup), "sinks.write_s" -> (write - render),
      "sinks.bytes_written" -> bytes, "sinks.files_written" -> files,
      "engine.overhead_s" -> (engine - write), "trace.wall_s" -> engine,
      "engine.records" -> records,
      "engine.cached_after" -> (if (spark.sharedState.cacheManager.isEmpty) 0 else 1),
      "ladder.positive_sum_s" -> selfTimes.filter(_ > 0).sum,
      "ladder.negative_rungs" -> selfTimes.count(_ < 0)) ++ counters
  }
}

/** `ops_curation`: four catalog rows in sequence, each to a noop sink. The
  * warm-up pass writes each row's result as parquet for the oracle check, so
  * the check runs under exactly the session the timed passes use.
  */
final class OpsWorkload(spark: SparkSession, inputs: String, work: String) extends Workload {
  import Harness._

  def warmUp(): Unit = {
    // in OpsRows order: run.py pairs these rows with each repetition's counts
    val oracles = ListMap(OpsRows.map(r => r -> Catalog.byName(r).oracle.getOrElse("")): _*)
    Files.createDirectories(Paths.get(work, "check"))
    Files.writeString(Paths.get(work, "check", "oracle_sql.json"), json(oracles))
    OpsRows.foreach { r =>
      spark.catalog.clearCache()
      Catalog.byName(r).run(spark, inputs).write.mode("overwrite").parquet(s"$work/check/$r")
    }
  }

  def units(out: String): Seq[() => Long] =
    OpsRows.map(r => () => noopCount(Catalog.byName(r).run(spark, inputs)))

  def traced(c: SparkCounters, spans: Spans): Map[String, Any] = {
    val perRow = OpsRows.map { r =>
      spark.catalog.clearCache()
      HeapWatch.reset()
      val m = spans(s"catalog.$r")(sparkCounters(spark, c) {
        noop(Catalog.byName(r).run(spark, inputs)) })
      r -> (m + ("cached_after" -> (if (spark.sharedState.cacheManager.isEmpty) 0L else 1L)))
    }
    // spark.* over the pass: the per-row counters summed (the collections
    // between rows are not part of any row)
    val total = perRow.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2) {
      case (x: Long, y: Long) => x + y
      case (x, y) => x.asInstanceOf[Double] + y.asInstanceOf[Double]
    }
    perRow.flatMap { case (r, m) =>
      Seq(s"catalog.${r}_s" -> m("spark.wall_s"), s"catalog.$r.jobs" -> m("spark.jobs"),
        s"catalog.$r.cached_after" -> m("cached_after"))
    }.toMap ++ (total - "cached_after") ++ Map("engine.cached_after" -> total("cached_after"),
      "trace.wall_s" -> total("spark.wall_s"))
  }
}
