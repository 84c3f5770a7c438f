package graft

import graft.exec.{MappingCompiler, Sinks}
import graft.mapping.MappingParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Top-level API: RML mapping (Turtle) → Spark quad DataFrame / RDF files.
  *
  * Mirrors the reference's `semantify(config)` entry point (reference:
  * semantify.py:9908) with the config knobs that affect semantics:
  * `remove_duplicate`, `all_in_one_file`, `output_format`
  * (reference: example/config.ini:7-19).
  */
object Engine {

  final case class Config(
      removeDuplicates: Boolean = true,
      outputFormat: String = "n-triples", // n-triples | turtle
      baseIri: Option[String] = None,
      /** Dataset-level DB connection for table/query-only logical sources
        * (reference `[datasetN] host/port/db/user/password` + dbType).
        */
      jdbc: Option[MappingCompiler.JdbcDefaults] = None)

  private def toOptions(config: Config): MappingCompiler.Options =
    MappingCompiler.Options(config.removeDuplicates,
      baseIri = config.baseIri, jdbc = config.jdbc)

  /** Compile a mapping document into the quad DataFrame (s, p, o, g). */
  def materialize(spark: SparkSession, mappingTurtle: String,
      sourceDir: String = "", config: Config = Config()): DataFrame = {
    val doc = MappingParser.parse(mappingTurtle, sourceDir)
    MappingCompiler.compile(spark, doc, toOptions(config))
  }

  /** Streaming materialization (SURVEY §2.11 — parity-plus; the reference
    * is pure batch): the asserted TriplesMaps' shared source becomes a
    * `readStream` (schema required by streaming file sources), parent
    * sources of RefObjectMaps stay static (stream-static joins), and the
    * same compiled term pipeline produces a streaming quad DataFrame.
    * Duplicate elimination is off (a streaming global dropDuplicates needs
    * a watermark — use StreamingOps.dedupWithinWatermark downstream).
    */
  def materializeStream(spark: SparkSession, mappingTurtle: String, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      config: Config = Config()): DataFrame = {
    val doc = MappingParser.parse(mappingTurtle, sourceDir)
    val asserted = doc.triplesMaps.filter(_.asserted)
    require(asserted.map(_.source.id).distinct.size == 1,
      "streaming materialization needs all asserted TriplesMaps on one source " +
        "(mark join parents as NonAssertedTriplesMap)")
    val src = asserted.head.source
    val stream = src match {
      case graft.model.LogicalSource.CsvSource(path, delim) =>
        spark.readStream.schema(schema)
          .option("header", "true").option("delimiter", delim).csv(path)
      case graft.model.LogicalSource.JsonSource(path, iterator, multiLine) =>
        graft.sources.SourceReader.applyJsonIterator(
          spark.readStream.schema(schema).option("multiLine", multiLine.toString).json(path), iterator)
      case graft.model.LogicalSource.ParquetSource(path) =>
        spark.readStream.schema(schema).parquet(path)
      case other =>
        throw new UnsupportedOperationException(s"streaming source: ${other.id}")
    }
    MappingCompiler.compile(spark, doc, MappingCompiler.Options(
      removeDuplicates = false, baseIri = config.baseIri,
      sourceOverride = Map(src.id -> stream)))
  }

  /** Streaming KG construction to N-Triples files: each micro-batch's
    * quads serialize through the same ntLines path as batch output.
    * Duplicates are eliminated WITHIN each batch;
    * for cross-batch dedup insert `StreamingOps.dedupWithinWatermark`
    * upstream — a streaming global distinct needs bounded state. Each
    * batch writes to its own `nt/batch=<id>` subdirectory in overwrite
    * mode, so a replay after a crash rewrites the same directory instead
    * of appending duplicates (read the output with recursiveFileLookup).
    * Returns the running StreamingQuery (caller stops it).
    */
  def runStream(spark: SparkSession, mappingTurtle: String, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType, outputPath: String,
      config: Config = Config()): org.apache.spark.sql.streaming.StreamingQuery = {
    val quads = materializeStream(spark, mappingTurtle, sourceDir, schema, config)
    quads.writeStream
      .option("checkpointLocation", s"$outputPath/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = if (config.removeDuplicates) batch.dropDuplicates("s", "p", "o", "g") else batch
        Sinks.ntLines(b).write.mode("overwrite").text(s"$outputPath/nt/batch=$batchId")
      }
      .start()
  }

  /** Full run: mapping → RDF files at outputPath. Returns the triple count
    * (the reference logs `number_triple`, semantify.py:15037-15040).
    *
    * One pass: a single Spark action computes and writes the deduplicated
    * quads, and the count is observed on that write
    * ([[Sinks.writeCounted]]). Nothing is left cached. Mapping-declared
    * logical targets (K3) are further writes after the main one.
    */
  def run(spark: SparkSession, mappingTurtle: String, sourceDir: String,
      outputPath: String, config: Config = Config()): Long = {
    // scale exchange width with the input (CLI runs land here): the one
    // exchange whose per-reducer volume tracks source size is the source
    // rows' exchange by subject under the clustered quad dedup, or the
    // quad dedup's own exchange when the mapping cannot cluster — see
    // graft.util.ShuffleScaling
    if (sourceDir.nonEmpty) graft.util.ShuffleScaling.tuneFor(spark, sourceDir)
    val doc = MappingParser.parse(mappingTurtle, sourceDir)
    val opts = toOptions(config)
    val perTm = MappingCompiler.compilePerTm(spark, doc, opts)
    val all = perTm.map(_._2).reduceLeftOption(_.unionByName(_))
      .getOrElse(MappingCompiler.emptyQuads(spark))
    val quads = if (config.removeDuplicates)
      MappingCompiler.dedupQuads(spark, all, opts) else all
    val n = Sinks.writeCounted(quads) { observed =>
      config.outputFormat match {
        case "turtle" => Sinks.writeTurtle(observed, doc.prefixes, outputPath)
        case _ => Sinks.writeNt(observed, outputPath)
      }
    }
    // K3: mapping-declared logical targets — subject-level routes the whole
    // TM's quads, POM-level routes only that (constant) predicate's quads
    perTm.foreach { case (tm, df0) =>
      val routes = tm.subject.targets.map(lit(true) -> _) ++ tm.poms.flatMap { pom =>
        val pred = pom.predicate.kind match {
          case graft.model.TermKind.Constant => col("p") === s"<${pom.predicate.value}>"
          case _ => lit(true) // dynamic predicate: route the TM's quads
        }
        pom.targets.map(pred -> _)
      }
      if (routes.nonEmpty) {
        val deduped = if (config.removeDuplicates)
          MappingCompiler.dedupQuads(spark, df0, opts) else df0
        // persist the per-TM frame across the target fan-out: k logical
        // targets would otherwise re-execute the whole term pipeline
        // (scan → explode → dedup) k times
        val df = if (routes.size > 1) deduped.persist() else deduped
        try Sinks.writeLogicalTargets(df, routes.map { case (pred, t) =>
            Sinks.TargetSpec(pred, t.path, t.serialization, t.compression, t.encoding) },
          doc.prefixes)
        finally if (routes.size > 1) { df.unpersist(); () }
      }
    }
    n
  }
}
