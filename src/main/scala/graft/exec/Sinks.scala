package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output serializers (SURVEY §2.2, K1-K4). Input is the engine's quad
  * DataFrame `(s, p, o, g)` with fully-formatted N-Triples terms.
  */
object Sinks {

  /** K1: N-Triples / N-Quads lines. */
  def ntLines(quads: DataFrame): DataFrame = {
    val line = when(col("g").isNotNull,
      concat_ws(" ", col("s"), col("p"), col("o"), col("g"), lit(".")))
      .otherwise(concat_ws(" ", col("s"), col("p"), col("o"), lit(".")))
    quads.select(line.as("line"))
  }

  def writeNt(quads: DataFrame, path: String): Unit =
    ntLines(quads).write.mode("overwrite").text(path)

  /** Runs `write` (one Spark action) over `quads` and returns its row
    * count, observed on that action: no extra job, no cache. `Observation()`
    * draws a unique name per call, so no two runs in one session share a
    * metric name. A sink that reads its input twice (the Turtle hub
    * split) counts every row under the one name in each read, and Spark
    * reports one of them: the count is not doubled. When the optimizer
    * proves the input empty it prunes the observed node, and Spark
    * completes the observation with no metrics: that reads as 0.
    */
  def writeCounted(quads: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(quads.observe(obs, count(lit(1)).as("n")))
    obs.get.getOrElse("n", 0L).asInstanceOf[Long]
  }

  /** Columnar KG sink: quads as predicate-partitioned parquet — the
    * storage layout for a 100 TB graph that downstream engines QUERY
    * rather than serialize. Partitioning by predicate gives partition
    * pruning on the access pattern every KG workload has (`WHERE p = …`,
    * the vertical-partitioning literature's finding); within a partition,
    * subject sort-order makes min/max row-group statistics selective for
    * subject point lookups and merge-friendly for subject-aligned joins.
    * Predicates are sanitized to legal directory names; the exact IRI
    * survives in the `p` column.
    */
  def writeQuadsParquet(quads: DataFrame, path: String): Unit =
    quads
      .withColumn("p_part", regexp_replace(col("p"), "[<>:/#?*\"\\\\]", "_"))
      // range-partition on (predicate, subject): a dominant predicate
      // (rdf:type is routinely ~1/3 of a KG) splits across many tasks by
      // subject range instead of hot-spotting one writer, and every output
      // file is subject-sorted for row-group pruning
      .repartitionByRange(col("p_part"), col("s"))
      .sortWithinPartitions(col("p_part"), col("s"))
      .write.mode("overwrite").partitionBy("p_part").parquet(path)

  /** Named-graph partitioned output (SURVEY §1.4: `partitionBy("graph")` on
    * write): one directory per graph, default graph under g=__default. At
    * scale this gives graph-pruned reads downstream for free.
    */
  def writeNtByGraph(quads: DataFrame, path: String): Unit = {
    val line = concat_ws(" ", col("s"), col("p"), col("o"), lit("."))
    quads.select(line.as("line"),
        coalesce(regexp_replace(col("g"), "[<>:/#]", "_"), lit("__default")).as("g"))
      .write.mode("overwrite").partitionBy("g").text(path)
  }

  /** T13: prefix compaction — `<ns…local>` → `prefix:local` when the IRI's
    * namespace is in the prefix map and the local part is PN_LOCAL-safe
    * (reference: determine_prefix semantify.py:190-209). Longest namespace
    * wins; literals/blank nodes fall through every pattern unchanged. The
    * prefix map is a compile-time constant, so the chain is a plain codegen
    * expression — no lookup table at runtime.
    */
  def compactIri(c: Column, prefixes: Map[String, String]): Column =
    prefixes.toSeq.sortBy(-_._2.length).foldLeft(c) { case (acc, (p, ns)) =>
      // PN_LOCAL-safe: no slashes/hash/colon, must not END with a dot
      regexp_replace(acc,
        "^<" + java.util.regex.Pattern.quote(ns) +
          "([A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?)>$",
        p + ":$1")
    }

  /** K2: Turtle-style subject grouping — predicates joined with `;`, objects
    * of the same predicate with `,` (reference: turtle_print
    * functions.py:394-568). Formatting stays distributed, no driver state.
    * IRIs are compacted against `prefixes` (T13); `rdf:type` prints as `a`.
    *
    * Skew guard: a celebrity subject (a hub entity with millions of POs —
    * normal in a 100 TB KG) must not become one in-memory `collect_list`
    * array and one multi-GB output string on a single task. Objects per
    * predicate and POs per subject are chunked into `maxGroup`-sized
    * groups, each chunk emitted as its own block with the subject (and
    * predicate) repeated — valid Turtle, bounded task memory. Below the
    * cap the output is byte-identical to the unchunked form (one chunk),
    * which is what the k2 oracle row pins.
    *
    * Two chunk-assignment strategies, BOTH measured at sf10 on uniform
    * and zipf data (SCALE.md §16.11):
    *
    *   - `hashChunks = false` (default): rank chunks via `row_number`
    *     windows — ONE exchange per level, chunk sizes exactly capped,
    *     but one task per (s,p)/(s) key (the window sorts the whole key;
    *     external sort bounds memory, not time). Measured FASTER at
    *     every tested scale (34.5 vs 47.1 s at uniform sf10): the extra
    *     exchanges of the hash path cost more than the single-key sorts
    *     until a key reaches far beyond the ~5M-row hub tested.
    *   - `hashChunks = true`: chunk id = h60(value) mod ceil(n/maxGroup)
    *     with per-key counts from a distributed partial agg joined back
    *     (AQE skew-split applies — it is a join, not a window). No stage
    *     anywhere gathers a whole key, so this is the shape for
    *     billion-PO celebrities where one task's sort would BE the job;
    *     chunk sizes are ~maxGroup in expectation, not hard-capped.
    *     Deterministic (h60), hash-pinned by k2c_turtle_hub_hashed.
    */
  def turtleBlocks(quads: DataFrame, prefixes: Map[String, String] = Map.empty,
      maxGroup: Int = 10000, hashChunks: Boolean = false): DataFrame = {
    require(maxGroup > 0, "maxGroup must be positive")
    import org.apache.spark.sql.expressions.Window
    val rdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    def term(c: Column) = compactIri(c, prefixes)
    val pred = when(col("p") === rdfType, lit("a")).otherwise(term(col("p")))
    if (hashChunks) {
      def chunks(n: Column): Column = ceil(n / lit(maxGroup.toDouble))
      val terms = quads
        .select(term(col("s")).as("s"), pred.as("p"), term(col("o")).as("o"))
        .dropDuplicates("s", "p", "o")
      val oCnt = terms.groupBy(col("s"), col("p")).agg(count(lit(1)).as("__n"))
      val byPred = terms.join(oCnt, Seq("s", "p"))
        .withColumn("__och",
          pmod(graft.ops.Dedup.h60(col("o"), 11), chunks(col("__n"))))
        .groupBy(col("s"), col("p"), col("__och"))
        .agg(array_join(array_sort(collect_list(col("o"))), ", ").as("objs"))
        .select(col("s"), concat(col("p"), lit(" "), col("objs")).as("po"))
      val pCnt = byPred.groupBy(col("s")).agg(count(lit(1)).as("__m"))
      byPred.join(pCnt, Seq("s"))
        .withColumn("__pch",
          pmod(graft.ops.Dedup.h60(col("po"), 13), chunks(col("__m"))))
        .groupBy(col("s"), col("__pch"))
        .agg(array_join(array_sort(collect_list(col("po"))), " ;\n\t").as("body"))
        .select(concat(col("s"), lit(" "), col("body"), lit(" .")).as("block"))
    } else {
      val terms = quads
        .select(term(col("s")).as("s"), pred.as("p"), term(col("o")).as("o"))
      val wO = Window.partitionBy(col("s"), col("p")).orderBy(col("o"))
      val byPred = terms
        // sorted-neighbor dedup: equal objects are adjacent under wO's
        // order, so lag() drops repeats without a per-group in-memory set
        .withColumn("__prev", lag(col("o"), 1).over(wO))
        .where(col("__prev").isNull || col("__prev") =!= col("o"))
        .drop("__prev")
        .withColumn("__och", ((row_number().over(wO) - 1) / maxGroup).cast("int"))
        .groupBy(col("s"), col("p"), col("__och"))
        .agg(array_join(array_sort(collect_list(col("o"))), ", ").as("objs"))
        .select(col("s"), concat(col("p"), lit(" "), col("objs")).as("po"))
      val wP = Window.partitionBy(col("s")).orderBy(col("po"))
      byPred
        .withColumn("__pch", ((row_number().over(wP) - 1) / maxGroup).cast("int"))
        .groupBy(col("s"), col("__pch"))
        .agg(array_join(array_sort(collect_list(col("po"))), " ;\n\t").as("body"))
        .select(concat(col("s"), lit(" "), col("body"), lit(" .")).as("block"))
    }
  }

  /** Per-subject ADAPTIVE hub strategy: route each subject by its
    * measured quad volume instead of a caller flag. Subjects whose raw
    * quad count exceeds `hubFactor · maxGroup` go through the HASH
    * strategy (no stage anywhere gathers the whole key — the shape that
    * survives a billion-PO celebrity); everything else takes the
    * measured-faster rank windows (SCALE.md §16.11: rank won every
    * tested scale up to the ~5M-PO hub, so the hash path should engage
    * only where a single key's sort would BE the job). The routing
    * count is ONE partial-agg groupBy + an equi-join back (AQE
    * skew-splits it — the count is the same aggregate the hash path
    * computes anyway); each subject lands entirely in one path, and a
    * below-cap subject emits byte-identical blocks under either
    * strategy, so the union is the same Turtle the explicit modes
    * produce. Raw (pre-dedup) counts over-estimate distinct POs —
    * the safe direction: a duplicate-heavy subject can only switch to
    * the always-correct hash path early, never stay on a rank sort it
    * has outgrown.
    */
  def turtleBlocksAdaptive(quads: DataFrame,
      prefixes: Map[String, String] = Map.empty,
      maxGroup: Int = 10000, hubFactor: Int = 16): DataFrame = {
    require(hubFactor > 0, "hubFactor must be positive")
    val thr = maxGroup.toLong * hubFactor
    // subjects over the threshold are FEW by definition (each carries
    // > thr quads, so there are at most |quads|/thr of them): the
    // membership side broadcasts and each branch is scan + map-side
    // filter instead of a shuffled tag join (measured 2.3× on the k2d
    // fixture); the broadcast exchange is shared across both branches
    val hubs = quads.groupBy(col("s")).agg(count(lit(1)).as("__sn"))
      .where(col("__sn") > thr)
      .select(col("s"), lit(true).as("__hub"))
    // the hub side broadcasts: its cardinality is bounded by
    // |quads| / thr BY CONSTRUCTION (every hub carries > thr quads), so
    // at the default 160k-quad threshold even a 10^12-quad corpus has
    // at most ~6M hub subjects — and a corpus anywhere near that bound
    // should raise hubFactor (fewer, bigger hubs) rather than drop the
    // hint: AQE measured 4.67 s vs 3.29 s broadcast on the k2d fixture
    // (it leaves the tag join sort-merge)
    val tagged = quads.join(broadcast(hubs), Seq("s"), "left")
    turtleBlocks(tagged.where(col("__hub").isNull).drop("__hub"),
        prefixes, maxGroup, hashChunks = false)
      .unionByName(turtleBlocks(tagged.where(col("__hub").isNotNull)
        .drop("__hub"), prefixes, maxGroup, hashChunks = true))
  }

  /** Turtle prefix header from a prefix map (reference: prefix_extraction
    * semantify.py:168-187).
    */
  def turtleHeader(prefixes: Map[String, String]): String =
    prefixes.toSeq.sortBy(_._1)
      .map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  def writeTurtle(quads: DataFrame, prefixes: Map[String, String], path: String): Unit = {
    // adaptive hub routing: small subjects produce the same bytes as the
    // plain rank strategy (the k2 oracle shape); a planted mega-hub
    // switches itself to the hash path without a caller flag
    val blocks = turtleBlocksAdaptive(quads, prefixes)
    blocks.write.mode("overwrite").text(path)
    val header = turtleHeader(prefixes)
    if (header.nonEmpty) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        blocks.sparkSession.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(path, "_00_prefixes.ttl"))
      out.write((header + "\n").getBytes("UTF-8")); out.close()
    }
  }

  /** K3: logical-target routing — each target gets the quads matching its
    * predicate filter (reference: semantify.py:3346-3400). Returns the routed
    * frame with a `target` column; callers fan out one write per target.
    */
  def routeTargets(quads: DataFrame, targets: Map[String, Column]): DataFrame =
    targets.map { case (name, pred) =>
      quads.where(pred).withColumn("target", lit(name))
    }.reduceLeft(_.unionByName(_))

  /** One logical target: a quad filter routed to its own output path with
    * its own serialization and optional compression codec (reference:
    * logical-target rewrite/compress loop semantify.py:10019-10086;
    * serializations jsonld/n3/rdfjson/ttl, compression gz/zip/tar.*).
    */
  final case class TargetSpec(
      pred: Column,
      path: String,
      serialization: String = "ntriples",
      compression: Option[String] = None,
      encoding: String = "UTF-8")

  /** K3 end-to-end: write each target's matching quads in its requested
    * serialization. Plain `.gz` rides on the distributed Hadoop codec;
    * zip / tar.gz / tar.xz (not Hadoop codecs) and UTF-16 re-encoding are
    * streamed post-passes over the part files — the same shape as the
    * reference's re-read loop (semantify.py:10054-10106) but per-file
    * streaming, never whole-dump in memory.
    */
  def writeLogicalTargets(quads: DataFrame, targets: Seq[TargetSpec],
      prefixes: Map[String, String] = Map.empty): Unit =
    targets.foreach { t =>
      val routed = quads.where(t.pred)
      val lines = t.serialization.toLowerCase match {
        case "turtle" | "ttl" | "n3" => turtleBlocks(routed, prefixes)
        case "jsonld" | "json-ld" => jsonLdLines(routed)
        case "rdfjson" | "json" =>
          rdfJson(routed).select(concat(col("s"), lit(" "), col("json")).as("line"))
        case "rdfxml" | "xml" => rdfXmlLines(routed)
        case _ => ntLines(routed)
      }
      val archive = t.compression.exists(c => c != "gzip")
      val gz = t.compression.contains("gzip")
      val dir = if (archive) t.path + "__raw" else t.path
      val w = lines.write.mode("overwrite")
      (if (gz) w.option("compression", "gzip") else w).text(dir)
      if (t.serialization.equalsIgnoreCase("rdfxml") || t.serialization.equalsIgnoreCase("xml"))
        writeRdfXmlEnvelope(lines.sparkSession, dir, gz)
      if (Set("turtle", "ttl", "n3")(t.serialization.toLowerCase) && prefixes.nonEmpty)
        // sidecar matches the part files' codec so a concatenated/globbed
        // read of the directory stays uniform
        putSidecar(lines.sparkSession, dir,
          if (gz) "_00_prefixes.ttl.gz" else "_00_prefixes.ttl",
          turtleHeader(prefixes) + "\n", gz)
      if (t.encoding.equalsIgnoreCase("UTF-16")) reencodeUtf16(lines.sparkSession, dir)
      t.compression.filter(_ != "gzip").foreach(c =>
        archiveDir(lines.sparkSession, dir, t.path, c))
    }

  /** K4: RDF/XML — one `<rdf:Description>` element per subject, built as a
    * distributed string aggregation (no rdflib-style driver graph). Each
    * property element carries its own `xmlns:n` declaration (valid XML,
    * no global prefix table), so formatting stays row-local + one groupBy.
    * Reference produces rdfxml via rdflib re-serialization
    * (semantify.py:10063-10068).
    *
    * Skew guard (same rank-chunking as [[turtleBlocks]]): a celebrity
    * subject's property elements split into groups of `maxGroup`, each
    * emitted as its own `<rdf:Description>` with the subject attribute
    * repeated — RDF/XML merges descriptions of the same resource, so the
    * graph is unchanged and no task ever materializes an unbounded
    * collect_list. Below the cap the output is byte-identical to the
    * unchunked form (the k4 oracle rows pin that).
    */
  def rdfXmlLines(quads: DataFrame, maxGroup: Int = 10000): DataFrame = {
    require(maxGroup > 0, "maxGroup must be positive")
    import org.apache.spark.sql.expressions.Window
    def xmlEscape(c: Column): Column =
      replace(replace(replace(replace(c,
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;")), lit("\""), lit("&quot;"))
    // N-Triples lexical → raw text: undo the writer's escapes (\\ first via
    // a sentinel so \\n is not confused with \n), then XML-escape
    def unNt(c: Column): Column =
      replace(replace(replace(replace(replace(replace(c,
        lit("\\\\"), lit("\u0001")), lit("\\\""), lit("\"")),
        lit("\\n"), lit("\n")), lit("\\r"), lit("\r")),
        lit("\\t"), lit("\t")), lit("\u0001"), lit("\\"))
    val iriBody = regexp_extract(col("o"), "^<(.*)>$", 1)
    val pBody = regexp_extract(col("p"), "^<(.*)>$", 1)
    // split the predicate IRI at the last / or # into namespace + local name
    val pNs = regexp_extract(pBody, "^(.*[/#])[^/#]+$", 1)
    val pLocal = regexp_extract(pBody, "^.*[/#]([^/#]+)$", 1)
    val litVal = regexp_extract(col("o"), "^\"((?s).*)\"(?:\\^\\^<.*>|@[A-Za-z][A-Za-z0-9-]*)?$", 1)
    val dt = regexp_extract(col("o"), "\\^\\^<(.*)>$", 1)
    val lang = regexp_extract(col("o"), "@([A-Za-z][A-Za-z0-9-]*)$", 1)
    val open = concat(lit("    <n:"), pLocal, lit(" xmlns:n=\""), xmlEscape(pNs), lit("\""))
    val propXml =
      when(col("o").startsWith("<"),
        concat(open, lit(" rdf:resource=\""), xmlEscape(iriBody), lit("\"/>")))
      .when(col("o").startsWith("_:"),
        concat(open, lit(" rdf:nodeID=\""), expr("substring(o, 3)"), lit("\"/>")))
      .otherwise(concat(open,
        when(dt =!= "", concat(lit(" rdf:datatype=\""), xmlEscape(dt), lit("\""))).otherwise(lit("")),
        when(lang =!= "", concat(lit(" xml:lang=\""), lang, lit("\""))).otherwise(lit("")),
        lit(">"), xmlEscape(unNt(litVal)), lit("</n:"), pLocal, lit(">")))
    val sAttr = when(col("s").startsWith("_:"),
        concat(lit("rdf:nodeID=\""), expr("substring(s, 3)"), lit("\"")))
      .otherwise(concat(lit("rdf:about=\""), xmlEscape(regexp_extract(col("s"), "^<(.*)>$", 1)), lit("\"")))
    val wS = Window.partitionBy(col("s"), col("sa")).orderBy(col("px"))
    quads.select(col("s"), sAttr.as("sa"), propXml.as("px"))
      .withColumn("__pch", ((row_number().over(wS) - 1) / maxGroup).cast("int"))
      .groupBy(col("s"), col("sa"), col("__pch"))
      .agg(array_join(array_sort(collect_list(col("px"))), "\n").as("body"))
      .select(concat(lit("  <rdf:Description "), col("sa"), lit(">\n"),
        col("body"), lit("\n  </rdf:Description>")).as("line"))
  }

  /** Side files that make the concatenated sorted part files a valid RDF/XML
    * document ("_00_…" sorts before "part-…", "zz_…" after).
    */
  private def writeRdfXmlEnvelope(spark: org.apache.spark.sql.SparkSession, dir: String,
      gz: Boolean = false): Unit = {
    val ext = if (gz) ".rdf.gz" else ".rdf"
    putSidecar(spark, dir, "_00_header" + ext,
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">\n", gz)
    putSidecar(spark, dir, "zz_footer" + ext, "</rdf:RDF>\n", gz)
  }

  /** Write a small driver-side sidecar file next to the part files, gzipped
    * when the parts are gzipped.
    */
  private def putSidecar(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, text: String, gz: Boolean): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val raw = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
    val out: java.io.OutputStream = if (gz) new java.util.zip.GZIPOutputStream(raw) else raw
    out.write(text.getBytes("UTF-8")); out.close()
  }

  /** UTF-16 re-encode pass (reference: semantify.py:10054-10058): stream
    * every output file through a UTF-8 reader → UTF-16 writer. Per-file
    * streaming, constant memory.
    */
  def reencodeUtf16(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val base = new org.apache.hadoop.fs.Path(dir)
    fs.listStatus(base).filter(s => s.isFile && !s.getPath.getName.startsWith("_SUCCESS"))
      .foreach { st =>
        // gzipped parts are decompressed for the character re-encode and
        // recompressed on the way out — reading .gz bytes as UTF-8 text
        // would corrupt the output
        val gz = st.getPath.getName.endsWith(".gz")
        val tmp = new org.apache.hadoop.fs.Path(dir, st.getPath.getName + ".u16tmp")
        val rawIn: java.io.InputStream =
          if (gz) new java.util.zip.GZIPInputStream(fs.open(st.getPath)) else fs.open(st.getPath)
        val rawOut: java.io.OutputStream =
          if (gz) new java.util.zip.GZIPOutputStream(fs.create(tmp, true)) else fs.create(tmp, true)
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(rawIn, "UTF-8"))
        val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(rawOut, "UTF-16"))
        val buf = new Array[Char](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        in.close(); out.close()
        fs.delete(st.getPath, false)
        fs.rename(tmp, st.getPath)
        ()
      }
  }

  /** Archive the part files of `dir` into a single zip / tar.gz / tar.xz at
    * `dest` (reference: semantify.py:10089-10106). Streaming copy per file;
    * files enter the archive in name order so the concatenation stays a
    * valid document.
    */
  def archiveDir(spark: org.apache.spark.sql.SparkSession, dir: String, dest: String,
      kind: String): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName != "_SUCCESS")
      .sortBy(_.getPath.getName)
    val rawOut = fs.create(new org.apache.hadoop.fs.Path(dest), true)
    def copy(in: java.io.InputStream, out: java.io.OutputStream): Unit = {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
    }
    kind match {
      case "zip" =>
        val z = new ZipArchiveOutputStream(rawOut)
        files.foreach { st =>
          z.putArchiveEntry(new ZipArchiveEntry(st.getPath.getName))
          copy(fs.open(st.getPath), z); z.closeArchiveEntry()
        }
        z.close()
      case "tar.gz" | "tar.xz" =>
        val compressed: java.io.OutputStream =
          if (kind == "tar.gz") new java.util.zip.GZIPOutputStream(rawOut)
          else new org.tukaani.xz.XZOutputStream(rawOut, new org.tukaani.xz.LZMA2Options())
        val t = new TarArchiveOutputStream(compressed)
        files.foreach { st =>
          val e = new TarArchiveEntry(st.getPath.getName)
          e.setSize(st.getLen)
          t.putArchiveEntry(e)
          copy(fs.open(st.getPath), t); t.closeArchiveEntry()
        }
        t.close()
      case other => throw new IllegalArgumentException(s"unsupported archive kind: $other")
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    ()
  }

  /** K4: flattened JSON-LD — one JSON object per subject per line:
    * `{"@id": s, p: [{"@id"|"@value"…}]}` with `@type`/`@language` for
    * typed/tagged literals. N-Triples escaping (\" \\ \n \r \t) is valid
    * JSON string escaping, so the lexical forms pass through unchanged.
    *
    * Skew guard: celebrity subjects rank-chunk into groups of `maxGroup`
    * at both levels (objects per predicate, predicate entries per
    * subject) — JSON-LD merges node objects sharing an `@id`, so extra
    * lines are graph-equivalent. Chunks of the SAME predicate must land
    * in different node objects (duplicate keys inside one JSON object are
    * invalid), so the object-chunk id stays part of the subject-level
    * grouping key. Below the cap the output is byte-identical to the
    * unchunked form. Object dedup rides the chunk window's sort order via
    * lag() — no per-group in-memory set.
    */
  def jsonLdLines(quads: DataFrame, maxGroup: Int = 10000): DataFrame = {
    require(maxGroup > 0, "maxGroup must be positive")
    import org.apache.spark.sql.expressions.Window
    def iriBody(c: Column): Column =
      when(c.startsWith("<"), regexp_extract(c, "^<(.*)>$", 1)).otherwise(c) // bnode as-is
    val litVal = regexp_extract(col("o"), "^\"(.*)\"", 1)
    val dt = regexp_extract(col("o"), "\\^\\^<(.*)>$", 1)
    val lang = regexp_extract(col("o"), "@([A-Za-z][A-Za-z0-9-]*)$", 1)
    val oJson = when(col("o").startsWith("<") || col("o").startsWith("_:"),
        concat(lit("{\"@id\":\""), iriBody(col("o")), lit("\"}")))
      .otherwise(concat(lit("{\"@value\":\""), litVal, lit("\""),
        when(dt =!= "", concat(lit(",\"@type\":\""), dt, lit("\"")))
          .otherwise(when(lang =!= "", concat(lit(",\"@language\":\""), lang, lit("\"")))
            .otherwise(lit(""))),
        lit("}")))
    val wO = Window.partitionBy(col("s"), col("p")).orderBy(col("oj"))
    val wE = Window.partitionBy(col("s"), col("__och")).orderBy(col("entry"))
    quads
      .select(col("s"), col("p"), oJson.as("oj"))
      // sorted-neighbor dedup (collect_set semantics, without the set)
      .withColumn("__prev", lag(col("oj"), 1).over(wO))
      .where(col("__prev").isNull || col("__prev") =!= col("oj"))
      .drop("__prev")
      .withColumn("__och", ((row_number().over(wO) - 1) / maxGroup).cast("int"))
      .groupBy(col("s"), col("p"), col("__och"))
      .agg(concat_ws(",", array_sort(collect_list(col("oj")))).as("vals"))
      .select(col("s"), col("__och"),
        concat(lit("\""), iriBody(col("p")), lit("\":["), col("vals"), lit("]")).as("entry"))
      .withColumn("__ech", ((row_number().over(wE) - 1) / maxGroup).cast("int"))
      .groupBy(col("s"), col("__och"), col("__ech"))
      .agg(concat_ws(",", array_sort(collect_list(col("entry")))).as("body"))
      .select(concat(lit("{\"@id\":\""), iriBody(col("s")), lit("\","), col("body"), lit("}")).as("line"))
  }

  /** RDF-JSON-shaped grouping `{s: {p: [o…]}}` (reference:
    * functions.py:66-76) as a JSON string per subject. Same skew guard as
    * [[jsonLdLines]]: per-predicate object lists and per-subject entry
    * maps rank-chunk at `maxGroup`, with the object-chunk id kept in the
    * subject grouping key so one emitted map never carries duplicate
    * predicate keys; each line is its own JSON document, so a consumer
    * merges lines by subject. Below the cap: byte-identical, one line
    * per subject.
    */
  def rdfJson(quads: DataFrame, maxGroup: Int = 10000): DataFrame = {
    require(maxGroup > 0, "maxGroup must be positive")
    import org.apache.spark.sql.expressions.Window
    val wO = Window.partitionBy(col("s"), col("p")).orderBy(col("o"))
    val wE = Window.partitionBy(col("s"), col("__och")).orderBy(col("p"))
    quads
      .select(col("s"), col("p"), col("o"))
      .withColumn("__prev", lag(col("o"), 1).over(wO))
      .where(col("__prev").isNull || col("__prev") =!= col("o"))
      .drop("__prev")
      .withColumn("__och", ((row_number().over(wO) - 1) / maxGroup).cast("int"))
      .groupBy(col("s"), col("p"), col("__och"))
      .agg(array_sort(collect_list(col("o"))).as("objs"))
      .withColumn("__ech", ((row_number().over(wE) - 1) / maxGroup).cast("int"))
      .groupBy(col("s"), col("__och"), col("__ech"))
      .agg(to_json(map_from_entries(array_sort(collect_list(struct(col("p"), col("objs")))))).as("json"))
      .select(col("s"), col("json"))
  }
}
