package graft

import graft.util.ScanSpread
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 optimization pins: ScanSpread.widen derives the scan width
  * from the cached file listing (never `.rdd` — ADVICE r18: materializing
  * `.rdd` on a post-shuffle frame under AQE eagerly executes the upstream
  * stages) and enforces its scan-only precondition structurally.
  */
class OptimizationR19Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmpParquet(n: Int, files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toFile
    val path = new java.io.File(dir, "t.parquet").getAbsolutePath
    (0L until n.toLong).toDF("id").repartition(files)
      .write.mode("overwrite").parquet(path)
    path
  }

  test("widen: a starved single-file scan gains one round-robin exchange " +
      "up to defaultParallelism; values unchanged") {
    val path = tmpParquet(1000, 1)
    val scan = spark.read.parquet(path).select(col("id")).filter(col("id") % 2 === 0)
    val wide = ScanSpread.widen(scan)
    assert(wide ne scan) // the starved case did get the exchange
    assert(wide.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(wide.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 1000L).filter(_ % 2 == 0))
  }

  test("widen: a scan already at least core-count wide is returned " +
      "untouched (the 100 TB no-op guarantee)") {
    val path = tmpParquet(1000, 8) // 8 files, each its own split bin >= 4 cores
    val scan = spark.read.parquet(path).select(col("id"))
    assert(ScanSpread.widen(scan) eq scan)
  }

  test("payload generator pin: the six synthetic-codec UDFs stay declared " +
      "nondeterministic (the guide-4.4 anti-duplication pin) while their " +
      "values stay pure — identical across evaluations") {
    import graft.catalog.CatalogOps.{gateSyntheticAnnexB, gateSyntheticMp4}
    import graft.ops.{AudioContainers, Ebml, Hevc}
    val gens = Seq(
      AudioContainers.syntheticFlac(lit(44100), lit(2), lit(16), lit(1000L)),
      AudioContainers.syntheticOggOpus(lit(2), lit(312), lit(3), lit(48000L)),
      Ebml.syntheticWebm(lit(1), lit(320), lit(240), lit(1), lit(48000),
        lit(2), lit(5), lit(3), lit(1500)),
      gateSyntheticAnnexB(lit(3), lit(2), lit(3), lit(3), lit(151)),
      gateSyntheticMp4(lit(2), lit(2), lit(3), lit(2), lit(7)),
      Hevc.syntheticHevcAnnexB(lit(320), lit(240), lit(2), lit(120), lit(0),
        lit(2), lit(1), lit(3)))
    gens.foreach { g =>
      // the pin itself: a future refactor dropping .asNondeterministic()
      // re-opens the filter-pushdown duplication of r18's media-gate row.
      // Checked on the ANALYZED plan — the unresolved column node reports
      // deterministic=true before the UDF is bound.
      val plan = spark.range(1).select(g.as("p")).queryExecution.analyzed
      val udfs = plan.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
      assert(udfs.nonEmpty && udfs.forall(!_.deterministic),
        s"generator lost its pin: $g")
    }
    // purity: two independent evaluations produce identical bytes
    val df = spark.range(1).select(gens.zipWithIndex.map {
      case (g, i) => g.as(s"p$i") }: _*)
    val a = df.collect()(0)
    val b = df.collect()(0)
    (0 until gens.size).foreach { i =>
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]](i),
        b.getAs[Array[Byte]](i)), s"generator $i not pure")
    }
  }

  test("plannedScanSplits equals the bare scan's partition count across " +
      "file layouts and split settings") {
    def partFiles(path: String): Seq[Long] =
      new java.io.File(path).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(_.length())
    val two = tmpParquet(1000, 2)
    val Seq(a, b) = partFiles(two)
    val eight = tmpParquet(4000, 8)
    val one = tmpParquet(20000, 1)
    // (path, openCostInBytes, maxPartitionBytes, minPartitionNum)
    val layouts = Seq(
      // both files fit one bin on their bytes alone, not on bytes plus a
      // second openCost: the close check must not add openCost
      (two, 1024L, a + b + 1024L, Some(1)),
      (two, 1024L, a + b + 1023L, Some(1)),
      (two, 4L << 20, 128L << 20, None),
      (eight, 1024L, 3 * partFiles(eight).max + 2048L, Some(1)),
      (eight, 64L, 128L << 20, Some(2)),
      (eight, 4L << 20, 128L << 20, None),
      (one, 1024L, 16L << 10, Some(1)),
      (one, 1L, 8L << 10, None))
    layouts.foreach { case (path, openCost, maxBytes, minParts) =>
      val s = spark.newSession()
      s.conf.set("spark.sql.files.openCostInBytes", openCost.toString)
      s.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
      minParts.foreach(n => s.conf.set("spark.sql.files.minPartitionNum", n.toString))
      val scan = s.read.parquet(path)
      val planned = ScanSpread.plannedScanSplits(scan.queryExecution.analyzed, scan)
      assert(planned == Some(scan.rdd.getNumPartitions.toLong),
        s"$path openCost=$openCost maxPartitionBytes=$maxBytes " +
          s"minPartitionNum=$minParts")
    }
  }

  test("widen: a post-shuffle frame fails the scan-only precondition and " +
      "is returned untouched — no probe, no exchange, no eager execution") {
    val path = tmpParquet(100, 1)
    val shuffled = spark.read.parquet(path)
      .groupBy(col("id") % 10).agg(count(lit(1)).as("n"))
    assert(ScanSpread.widen(shuffled) eq shuffled)
    val joined = spark.read.parquet(path).join(
      spark.read.parquet(path).withColumnRenamed("id", "id2"),
      col("id") === col("id2"))
    assert(ScanSpread.widen(joined) eq joined)
  }
}
