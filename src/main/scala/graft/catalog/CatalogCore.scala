package graft.catalog

import graft.Engine
import graft.exec.Sinks
import graft.functions.{rml, FnoRegistry}
import graft.model._
import graft.sources.SourceReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 operator coverage: scans, sinks, filters, term construction,
  * joins, aggregation-shaped ops, dedup, set ops, FnO functions.
  */
object CatalogCore {
  import Catalog.{t, exportDir}

  private val XSD = "http://www.w3.org/2001/XMLSchema#"
  private val RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

  // ---------------------------------------------------------------- core agg

  private val q1 = Q("q1_agg",
    (s, dir) => t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(avg(l_quantity), 4) AS avg_qty,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus"""),
    bench = true)

  private val q3 = Q("q3_join_agg",
    (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      // no broadcast hint: customer grows with SF, so the join strategy is
      // left to AQE (runtime-sized broadcast at small SF, shuffle join at
      // scale) — a hard-coded broadcast() would OOM the build side at 100×
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT c_mktsegment,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""),
    bench = true)

  private val q18 = Q("q18_having",
    (s, dir) => {
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      l.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
        .where(col("total_qty") > 150)
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey"), col("l_orderkey").as("orderkey"), col("total_qty"))
    },
    Some("""SELECT o_custkey, l_orderkey AS orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_orderkey HAVING round(sum(l_quantity), 2) > 150"""))

  private val w1 = Q("w1_window_running_sum",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"),
        row_number().over(w).as("order_seq"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS running_total,
      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS order_seq
      FROM orders"""))

  // ----------------------------------------------------- projections/filters

  private val p1 = Q("p1_scan_project_filter",
    (s, dir) => t(s, dir, "lineitem")
      .where(col("l_returnflag") === "R" && col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber"), round(col("l_extendedprice"), 2).as("price")),
    Some("""SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30"""))

  private val p2 = Q("p2_dedup_source_rows",
    (s, dir) => t(s, dir, "customer").select(col("c_mktsegment"), col("c_nationkey")).dropDuplicates(),
    Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"))

  private val p3 = Q("p3_null_lattice",
    (s, dir) => {
      // synthesize the reference's null lattice over documents, then apply
      // the engine's notRmlNull predicate (functions.py:1882-1918 semantics)
      val v = when(col("source") === "src0", lit("N/A"))
        .when(col("source") === "src1", lit(""))
        .when(col("source") === "src2", lit("nan"))
        .when(col("source") === "src3", lit("   "))
        .when(col("source") === "src4", lit("NULL"))
        .otherwise(col("lang"))
      t(s, dir, "documents").select(col("doc_id"), v.as("v"))
        .where(rml.notRmlNull(col("v")))
    },
    Some("""WITH d AS (SELECT doc_id,
        CASE WHEN source='src0' THEN 'N/A' WHEN source='src1' THEN ''
             WHEN source='src2' THEN 'nan' WHEN source='src3' THEN '   '
             WHEN source='src4' THEN 'NULL' ELSE lang END AS v
        FROM documents)
      SELECT doc_id, v FROM d
      WHERE v IS NOT NULL AND trim(v) <> '' AND v NOT IN ('nan','N/A','NULL')"""))

  private val p5 = Q("p5_fno_condition",
    // controls_if follows Python truthiness (any non-empty string is true —
    // fnml_functions.py:102-103), so the false case is the empty string
    (s, dir) => t(s, dir, "orders").select(col("o_orderkey"),
      FnoRegistry.apply("controls_if", List(
        when(col("o_totalprice") > 150000, lit("true")).otherwise(lit("")),
        lit("big"), lit("small"))).as("bucket")),
    Some("""SELECT o_orderkey,
      CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS bucket
      FROM orders"""))

  /** P4 oracle row: template inline condition `[?(@.k=="v")]` over an
    * array-of-structs reference, through the SAME resolveAttr path the
    * mapping compiler uses (reference: functions.py:1820-1864 keeps
    * overwriting its match variable, so the LAST matching element wins).
    * The per-customer array is sorted by order key, so "last match" =
    * max order key with the matching status; customers with no match get
    * null (the term guard would drop the triple in a mapping).
    */
  private val p4 = Q("p4_inline_condition",
    (s, dir) => {
      val grouped = t(s, dir, "orders").groupBy(col("o_custkey")).agg(
        sort_array(collect_list(struct(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status")))).as("orders"))
      grouped.select(col("o_custkey"),
        graft.exec.MappingCompiler.resolveAttr(grouped,
          """orders[?(@.status=="F")].okey""").cast("long").as("last_f_order"))
    },
    Some("""SELECT o_custkey,
      max(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END) AS last_f_order
      FROM orders GROUP BY o_custkey"""))

  /** D5 oracle row: duplicate-POM removal — the same predicate-object map
    * declared TWICE emits each triple once even with removeDuplicates OFF,
    * because the compile-time rewrite drops the duplicate before Spark
    * sees it (reference dedups POMs during mapping parse). A regression
    * doubles the row count and fails the rows/hash compare.
    */
  private val d5 = Q("d5_duplicate_pom",
    (s, dir) => {
      val csvDir = exportDir(dir, "nation_csv_d5")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(csvDir, "_SUCCESS")))
        t(s, dir, "nation").coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(csvDir)
      val pom = """rr:predicateObjectMap [ rr:predicate <http://ex/vocab/regionkey>;
                  |    rr:objectMap [ rml:reference "n_regionkey" ] ]""".stripMargin
      val ttl =
        s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
           |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
           |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
           |<NatTM> a rr:TriplesMap;
           |  rml:logicalSource [ rml:source "$csvDir"; rml:referenceFormulation ql:CSV ];
           |  rr:subjectMap [ rr:template "http://ex/nation/{n_name}" ];
           |  $pom;
           |  $pom .
           |""".stripMargin
      Engine.materialize(s, ttl, "", Engine.Config(removeDuplicates = false))
        .select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
      '<http://ex/vocab/regionkey>' AS p, '"' || n_regionkey || '"' AS o
      FROM nation"""))

  /** S8 oracle row: structured source descriptor — csvw:url plus
    * csvw:dialect [csvw:delimiter ";"] resolves through the parser's
    * descriptor block (reference SPARQL descriptor queries,
    * semantify.py:2151-2191) to a semicolon-delimited CSV scan.
    */
  private val s8 = Q("s8_csvw_descriptor",
    (s, dir) => {
      val csvDir = exportDir(dir, "nation_scsv")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(csvDir, "_SUCCESS")))
        t(s, dir, "nation").coalesce(1).write.mode("overwrite")
          .option("header", "true").option("sep", ";").csv(csvDir)
      val ttl =
        s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
           |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
           |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
           |@prefix csvw: <http://www.w3.org/ns/csvw#> .
           |<NatTM> a rr:TriplesMap;
           |  rml:logicalSource [
           |    rml:source [ a csvw:Table; csvw:url "$csvDir";
           |      csvw:dialect [ csvw:delimiter ";" ] ];
           |    rml:referenceFormulation ql:CSV ];
           |  rr:subjectMap [ rr:template "http://ex/nation/{n_name}" ];
           |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/nkey>;
           |    rr:objectMap [ rml:reference "n_nationkey" ] ] .
           |""".stripMargin
      Engine.materialize(s, ttl).select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
      '<http://ex/vocab/nkey>' AS p, '"' || n_nationkey || '"' AS o
      FROM nation"""))

  /** S8 oracle row #2: DCAT catalog descriptor — `a dcat:Dataset;
    * dcat:distribution [ dcat:downloadURL ... ]` resolves through the
    * same descriptor block (reference semantify.py:2151-2191) to a CSV
    * scan; pins the two-hop distribution→downloadURL walk the csvw row
    * doesn't touch.
    */
  private val s8b = Q("s8b_dcat_descriptor",
    (s, dir) => {
      val csvDir = exportDir(dir, "nation_dcat_csv")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(csvDir, "_SUCCESS")))
        t(s, dir, "nation").coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(csvDir)
      val ttl =
        s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
           |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
           |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
           |@prefix dcat: <http://www.w3.org/ns/dcat#> .
           |<NatTM> a rr:TriplesMap;
           |  rml:logicalSource [
           |    rml:source [ a dcat:Dataset;
           |      dcat:distribution [ dcat:downloadURL "$csvDir" ] ];
           |    rml:referenceFormulation ql:CSV ];
           |  rr:subjectMap [ rr:template "http://ex/nation/{n_name}" ];
           |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/rkey>;
           |    rr:objectMap [ rml:reference "n_regionkey" ] ] .
           |""".stripMargin
      Engine.materialize(s, ttl).select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
      '<http://ex/vocab/rkey>' AS p, '"' || n_regionkey || '"' AS o
      FROM nation"""))

  /** S8 oracle row #3: WoT Thing Description descriptor — `rml:source [
    * td:hasPropertyAffordance [ td:hasForm [ hctl:hasTarget ...;
    * hctl:forContentType "application/json" ] ] ]` resolves through the
    * parser's TD walk (reference SPARQL semantify.py:2180-2183; direct
    * td:hasForm shape :2526-2527). Pins three things at once: the two-hop
    * affordance→form→target resolution, `file://` scheme stripping
    * (reference: semantify.py:3700), and formulation inference from
    * hctl:forContentType when the mapping carries no
    * rml:referenceFormulation of its own.
    */
  private val s8c = Q("s8c_wot_descriptor",
    (s, dir) => {
      // single-document JSON array (the web-API response shape a TD names);
      // nation is 25 rows at every SF, so the collect is bounded
      val jsonDir = exportDir(dir, "nation_wot_json")
      val natJson = t(s, dir, "nation")
        .select(col("n_name"), col("n_regionkey"))
        .orderBy(col("n_name")).toJSON.collect().mkString("[", ",", "]")
      val jd = java.nio.file.Paths.get(jsonDir)
      java.nio.file.Files.createDirectories(jd)
      java.nio.file.Files.writeString(jd.resolve("nation.json"), natJson)
      val ttl =
        s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
           |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
           |@prefix td: <https://www.w3.org/2019/wot/td#> .
           |@prefix hctl: <https://www.w3.org/2019/wot/hypermedia#> .
           |<NatTM> a rr:TriplesMap;
           |  rml:logicalSource [
           |    rml:source [ a td:Thing;
           |      td:hasPropertyAffordance [ td:hasForm [
           |        hctl:hasTarget "file://$jsonDir/nation.json";
           |        hctl:forContentType "application/json" ] ] ] ];
           |  rr:subjectMap [ rr:template "http://ex/nation/{n_name}" ];
           |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/rkey>;
           |    rr:objectMap [ rml:reference "n_regionkey" ] ] .
           |""".stripMargin
      Engine.materialize(s, ttl).select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
      '<http://ex/vocab/rkey>' AS p, '"' || n_regionkey || '"' AS o
      FROM nation"""))

  // ----------------------------------------------------------------- sources

  private val s1 = Q("s1_csv_scan",
    (s, dir) => {
      val out = exportDir(dir, "nation_csv")
      t(s, dir, "nation").coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
      SourceReader.read(s, LogicalSource.CsvSource(out))
        .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  private val s2 = Q("s2_json_scan",
    (s, dir) => {
      val out = exportDir(dir, "supplier_json")
      t(s, dir, "supplier").coalesce(1).write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("int").as("s_nationkey"),
          round(col("s_acctbal"), 2).as("s_acctbal"))
    },
    Some("SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal,2) AS s_acctbal FROM supplier"))

  private val s3 = Q("s3_xml_scan",
    (s, dir) => {
      val out = exportDir(dir, "region_xml")
      t(s, dir, "region").coalesce(1).write.mode("overwrite")
        .format("xml").option("rootTag", "rows").option("rowTag", "row").save(out)
      SourceReader.read(s, LogicalSource.XmlSource(out, "/rows/row"))
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    },
    Some("SELECT r_regionkey, r_name FROM region"))

  private val s7 = Q("s7_ntriples_scan",
    (s, dir) => {
      // write N-Triples from nation, then parse them back with the NT reader
      val out = exportDir(dir, "nation_nt")
      val quads = t(s, dir, "nation").select(
        rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name")))).as("s"),
        lit("<http://ex/vocab/regionkey>").as("p"),
        rml.typedLiteral(col("n_regionkey"), lit(XSD + "integer")).as("o"),
        lit(null).cast("string").as("g"))
      Sinks.ntLines(quads).coalesce(1).write.mode("overwrite").text(out)
      SourceReader.read(s, LogicalSource.NTriplesSource(out, ""))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS subject,
      '<http://ex/vocab/regionkey>' AS predicate,
      '"' || n_regionkey || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS object
      FROM nation"""))

  private val s7b = Q("s7b_ntriples_sparql_iterator",
    (s, dir) => {
      // S7 full path: the TM's SPARQL SELECT iterator runs over the .nt
      // graph (reference: rdflib g.query(iterator), semantify.py:9990-10011)
      // — here a two-pattern BGP whose shared ?n variable binds via a
      // self-join of the distributed triple frame
      val out = exportDir(dir, "nation_nt_sparql")
      val nat = t(s, dir, "nation")
      val subj = rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name"))))
      val quads = nat.select(subj.as("s"), lit("<http://ex/vocab/name>").as("p"),
          rml.literal(col("n_name")).as("o"), lit(null).cast("string").as("g"))
        .unionByName(nat.select(subj.as("s"), lit("<http://ex/vocab/regionkey>").as("p"),
          rml.typedLiteral(col("n_regionkey"), lit(XSD + "integer")).as("o"),
          lit(null).cast("string").as("g")))
      Sinks.ntLines(quads).coalesce(1).write.mode("overwrite").text(out)
      SourceReader.read(s, LogicalSource.NTriplesSource(out,
        """PREFIX v: <http://ex/vocab/>
          |SELECT ?n ?name ?rk WHERE { ?n v:name ?name . ?n v:regionkey ?rk . }""".stripMargin))
    },
    Some("""SELECT 'http://ex/nation/' || n_name AS n, n_name AS name,
      n_regionkey::VARCHAR AS rk FROM nation"""))

  private val s6 = Q("s6_sparql_bindings_scan",
    (s, dir) => {
      // export nation as W3C SPARQL-results JSON, read it back through the
      // bindings flattener (S6: each var → its `value` string)
      val out = exportDir(dir, "nation_srj")
      // nation is 25 rows at every scale factor (TPC-H fixed dimension) —
      // this collect is bounded, not scale-proportional
      val rows = t(s, dir, "nation").select(col("n_name"), col("n_regionkey"))
        .orderBy(col("n_name")).collect()
      val bindings = rows.map { r =>
        s"""{"name": {"type": "literal", "value": "${r.getString(0)}"},
           | "rk": {"type": "typed-literal", "datatype": "http://www.w3.org/2001/XMLSchema#integer",
           |        "value": "${r.get(1)}"}}""".stripMargin
      }.mkString("[", ",\n", "]")
      val doc = s"""{"head": {"vars": ["name", "rk"]}, "results": {"bindings": $bindings}}"""
      val d = java.nio.file.Paths.get(out)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("bindings.srj"), doc)
      SourceReader.sparqlBindings(s, s"$out/bindings.srj")
        .select(col("name"), col("rk"))
    },
    Some("SELECT n_name AS name, n_regionkey::VARCHAR AS rk FROM nation"))

  private val v2 = Q("v2_view_iterable_index",
    (s, dir) => {
      // RML-LV iterable field (V2): per-customer sorted order array exported
      // as JSON, re-read through a view with an iterator field
      // → one row per element + positional index column "ok.#".
      // Written distributed (df.write.json → JSON-lines parts) — a
      // toJSON.collect() here would pull every customer's order array onto
      // the driver, a scale-proportional OOM at 100×
      val out = Catalog.exportDir(dir, "orders_grouped_json")
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("oks"))
        .write.mode("overwrite").json(out)
      val view = LogicalSource.ViewSource("v_ok",
        LogicalSource.JsonSource(out, "$", multiLine = false),
        List(
          ViewField("cust", Some("o_custkey")),
          ViewField("ok", Some("oks"), iterator = Some("[*]"))))
      graft.exec.ViewExec.compile(s, view)
        .select(col("cust").cast("long").as("cust"), col("ok").cast("long").as("ok"),
          col("`ok.#`").cast("long").as("idx"))
    },
    Some("""WITH g AS (
        SELECT o_custkey, list_sort(list(o_orderkey)) AS l FROM orders GROUP BY o_custkey)
      SELECT o_custkey AS cust, unnest(l) AS ok, unnest(range(len(l))) AS idx FROM g"""))

  private val s9 = Q("s9_view_scan",
    (s, dir) => {
      val view = LogicalSource.ViewSource("v_orders",
        LogicalSource.ParquetSource(s"$dir/orders.parquet"),
        List(
          ViewField("order_id", Some("o_orderkey")),
          ViewField("cust_iri", None, template = Some("http://ex/customer/{o_custkey}")),
          ViewField("const_src", None, constant = Some("orders"))))
      graft.exec.ViewExec.compile(s, view)
        .select(col("order_id").cast("long").as("order_id"), col("cust_iri"), col("const_src"))
    },
    Some("""SELECT o_orderkey AS order_id,
      'http://ex/customer/' || o_custkey AS cust_iri,
      'orders' AS const_src FROM orders"""))

  // ------------------------------------------------------------------- sinks

  private def nationTypeQuads(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").select(
      rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name")))).as("s"),
      lit(RDF_TYPE).as("p"),
      lit("<http://ex/vocab/Nation>").as("o"),
      lit(null).cast("string").as("g"))

  private val k4a = Q("k4_rdfjson_roundtrip",
    (s, dir) => {
      // K4 oracle check: quads → RDF-JSON {s: {p: [o…]}} → file → parse the
      // JSON back and explode to quads — the serializer round-trips exactly
      val out = exportDir(dir, "nation_rdfjson")
      val nat = t(s, dir, "nation")
      val subj = rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name"))))
      val quads = nat.select(subj.as("s"), lit("<http://ex/vocab/name>").as("p"),
          rml.literal(col("n_name")).as("o"), lit(null).cast("string").as("g"))
        .unionByName(nat.select(subj.as("s"), lit("<http://ex/vocab/regionkey>").as("p"),
          rml.typedLiteral(col("n_regionkey"), lit(XSD + "integer")).as("o"),
          lit(null).cast("string").as("g")))
      Sinks.rdfJson(quads).write.mode("overwrite").json(out)
      val m = from_json(col("json"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
      s.read.json(out)
        .select(col("s"), explode(m).as(Seq("p", "objs")))
        .select(col("s"), col("p"), explode(col("objs")).as("o"))
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
        '<http://ex/vocab/name>' AS p, '"' || n_name || '"' AS o FROM nation
      UNION ALL SELECT '<http://ex/nation/' || n_name || '>' AS s,
        '<http://ex/vocab/regionkey>' AS p,
        '"' || n_regionkey || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS o
      FROM nation"""))

  private val k4b = Q("k4_jsonld_lines",
    // K4 oracle check: the flattened JSON-LD serialization byte-for-byte —
    // stronger than a round-trip, the oracle constructs the exact line
    (s, dir) => {
      val nat = t(s, dir, "nation")
      val subj = rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name"))))
      val quads = nat.select(subj.as("s"), lit("<http://ex/vocab/name>").as("p"),
          rml.literal(col("n_name")).as("o"), lit(null).cast("string").as("g"))
        .unionByName(nat.select(subj.as("s"), lit("<http://ex/vocab/regionkey>").as("p"),
          rml.typedLiteral(col("n_regionkey"), lit(XSD + "integer")).as("o"),
          lit(null).cast("string").as("g")))
      Sinks.jsonLdLines(quads)
    },
    Some("""SELECT '{"@id":"http://ex/nation/' || n_name ||
      '","http://ex/vocab/name":[{"@value":"' || n_name ||
      '"}],"http://ex/vocab/regionkey":[{"@value":"' || n_regionkey ||
      '","@type":"http://www.w3.org/2001/XMLSchema#integer"}]}' AS line
      FROM nation"""))

  private val k4c = Q("k4_rdfxml_roundtrip",
    (s, dir) => {
      // K4 oracle check: quads → RDF/XML Description blocks → text files →
      // parse the XML back to raw (s, p, o). The name literal carries an
      // injected ` <&">` suffix so the xmlEscape/unescape pair is exercised
      // on every row, not just passed through; the type quad exercises the
      // rdf:resource branch and the regionkey the rdf:datatype branch.
      val out = exportDir(dir, "nation_rdfxml")
      val nat = t(s, dir, "nation")
      val subj = rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name"))))
      val quads = nat.select(subj.as("s"), lit("<http://ex/vocab/name>").as("p"),
          rml.literal(concat(col("n_name"), lit(" <&\">"))).as("o"),
          lit(null).cast("string").as("g"))
        .unionByName(nat.select(subj.as("s"), lit("<http://ex/vocab/regionkey>").as("p"),
          rml.typedLiteral(col("n_regionkey"), lit(XSD + "integer")).as("o"),
          lit(null).cast("string").as("g")))
        .unionByName(nationTypeQuads(s, dir))
      Sinks.rdfXmlLines(quads).write.mode("overwrite").text(out)
      // wholetext per part file → split on the element close; property lines
      // all carry their own xmlns:n declaration, which is the line filter
      def unXml(c: Column): Column =
        replace(replace(replace(replace(c,
          lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")), lit("&amp;"), lit("&"))
      val blocks = s.read.option("wholetext", "true").text(out)
        .select(explode(split(col("value"), "</rdf:Description>")).as("blk"))
        .where(col("blk").contains("<rdf:Description"))
      val lines = blocks
        .select(regexp_extract(col("blk"), "rdf:about=\"([^\"]*)\"", 1).as("s"),
          explode(split(col("blk"), "\n")).as("ln"))
        .where(col("ln").contains("xmlns:n="))
      val ns = regexp_extract(col("ln"), "xmlns:n=\"([^\"]*)\"", 1)
      val local = regexp_extract(col("ln"), "^\\s*<n:([^ ]+) ", 1)
      val res = regexp_extract(col("ln"), "rdf:resource=\"([^\"]*)\"", 1)
      val dt = regexp_extract(col("ln"), "rdf:datatype=\"([^\"]*)\"", 1)
      val value = regexp_extract(col("ln"), ">((?s).*)</n:", 1)
      lines.select(col("s"), concat(unXml(ns), local).as("p"),
        when(res =!= "", concat(lit("iri:"), unXml(res)))
          .when(dt =!= "", concat(unXml(value), lit("^^"), unXml(dt)))
          .otherwise(unXml(value)).as("o"))
    },
    Some("""SELECT 'http://ex/nation/' || n_name AS s,
        'http://ex/vocab/name' AS p, n_name || ' <&">' AS o FROM nation
      UNION ALL SELECT 'http://ex/nation/' || n_name,
        'http://ex/vocab/regionkey',
        n_regionkey || '^^http://www.w3.org/2001/XMLSchema#integer' FROM nation
      UNION ALL SELECT 'http://ex/nation/' || n_name,
        'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
        'iri:http://ex/vocab/Nation' FROM nation"""))

  private val k4d = Q("k4_n3_prefixed",
    // K4 oracle check: N3/Turtle with a prefix map — the oracle constructs
    // the exact compacted block (T13 prefix compaction + `a` for rdf:type),
    // byte-for-byte like k2 but through the prefixed path
    (s, dir) => {
      val quads = t(s, dir, "nation").select(
        rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name")))).as("s"),
        lit("<http://ex/vocab/name>").as("p"),
        rml.literal(col("n_name")).as("o"),
        lit(null).cast("string").as("g"))
        .unionByName(nationTypeQuads(s, dir))
      Sinks.turtleBlocks(quads,
        Map("ex" -> "http://ex/vocab/", "nat" -> "http://ex/nation/"))
    },
    Some("""SELECT 'nat:' || n_name || ' a ex:Nation ;' || chr(10) || chr(9)
      || 'ex:name "' || n_name || '" .' AS block FROM nation"""))

  /** K4 oracle check for the UTF-16 dump encoding (reference re-encode loop
    * semantify.py:10054-10058): N-Triples written through writeLogicalTargets
    * with encoding=UTF-16, read back as raw bytes and decoded with the
    * UTF-16 charset (BOM-aware) — Spark's text source is UTF-8-only, so the
    * binaryFile + decode() path IS the test that the bytes really are
    * UTF-16. The oracle is k1's exact line set.
    */
  private val k4e = Q("k4_utf16_roundtrip",
    (s, dir) => {
      val out = exportDir(dir, "nation_nt_utf16")
      Sinks.writeLogicalTargets(nationTypeQuads(s, dir),
        Seq(Sinks.TargetSpec(lit(true), out, "ntriples", None, "UTF-16")))
      s.read.format("binaryFile").option("pathGlobFilter", "part-*").load(out)
        .select(explode(split(decode(col("content"), "UTF-16"), "\n")).as("line"))
        .where(col("line") =!= "")
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '> ' ||
      '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ' ||
      '<http://ex/vocab/Nation> .' AS line FROM nation"""))

  /** K4 oracle check for the archive compressions (reference zip/tar loop
    * semantify.py:10089-10106): the tar.gz logical dump is un-archived from
    * its actual bytes (commons-compress, the same library that wrote it
    * inverted) and the recovered lines must be k1's exact set. Exercises
    * writeLogicalTargets' raw-dir → archive → cleanup path end-to-end.
    */
  private val k4f = Q("k4_targz_roundtrip",
    (s, dir) => {
      val out = exportDir(dir, "nation_nt_targz")
      Sinks.writeLogicalTargets(nationTypeQuads(s, dir),
        Seq(Sinks.TargetSpec(lit(true), out, "ntriples", Some("tar.gz"))))
      // one bounded archive file → lines; the untar is opaque binary work
      // (UDF justified), entries concatenate in name order
      val untar = udf((bytes: Array[Byte]) => {
        val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
          new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes)))
        val sb = new StringBuilder
        var e = tin.getNextEntry
        while (e != null) {
          if (!e.isDirectory) sb.append(new String(tin.readAllBytes(), "UTF-8"))
          e = tin.getNextEntry
        }
        tin.close()
        sb.toString
      })
      s.read.format("binaryFile").load(out)
        .select(explode(split(untar(col("content")), "\n")).as("line"))
        .where(col("line") =!= "")
    },
    Some("""SELECT '<http://ex/nation/' || n_name || '> ' ||
      '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ' ||
      '<http://ex/vocab/Nation> .' AS line FROM nation"""))

  private val k1 = Q("k1_ntriples_sink",
    (s, dir) => Sinks.ntLines(nationTypeQuads(s, dir)),
    Some("""SELECT '<http://ex/nation/' || n_name || '> ' ||
      '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> ' ||
      '<http://ex/vocab/Nation> .' AS line FROM nation"""))

  private val k2 = Q("k2_turtle_sink",
    (s, dir) => {
      val quads = t(s, dir, "nation").select(
        rml.iri(concat(lit("http://ex/nation/"), rml.encodeIri(col("n_name")))).as("s"),
        lit("<http://ex/vocab/regionkey>").as("p"),
        rml.literal(col("n_regionkey")).as("o"),
        lit(null).cast("string").as("g"))
        .unionByName(nationTypeQuads(s, dir))
      Sinks.turtleBlocks(quads)
    },
    Some("""WITH q AS (
        SELECT '<http://ex/nation/' || n_name || '>' AS s,
               '<http://ex/vocab/regionkey>' AS p,
               '"' || n_regionkey || '"' AS o FROM nation
        UNION ALL
        SELECT '<http://ex/nation/' || n_name || '>' AS s,
               '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
               '<http://ex/vocab/Nation>' AS o FROM nation),
      po AS (SELECT s, p || ' ' || string_agg(DISTINCT o, ', ' ORDER BY o) AS po
             FROM (SELECT s, CASE WHEN p = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                                  THEN 'a' ELSE p END AS p, o FROM q) GROUP BY s, p)
      SELECT s || ' ' || string_agg(po, ' ;' || chr(10) || chr(9) ORDER BY po) || ' .' AS block
      FROM po GROUP BY s"""))

  /** K2 under celebrity-subject skew: ~⅓ of lineitem rows share ONE hub
    * subject (5 predicates), the rest are per-order subjects — the shape
    * that OOM'd the unchunked writer's per-subject collect at scale. The
    * small maxGroup forces the rank-chunking to actually engage at
    * verify scale, and the oracle replays the chunk arithmetic
    * (row_number windows + integer division) so the block-splitting
    * semantics — not just the happy path — are hash-pinned. Benched at
    * sf1/sf10 with the hub scaled to millions of POs (SCALE.md §16).
    */
  private val k2b = Q("k2b_turtle_hub",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val subj = when(col("l_orderkey") % 3 === 0, lit("<http://ex/hub>"))
        .otherwise(concat(lit("<http://ex/li/"), col("l_orderkey"), lit(">")))
      val quads = li.select(subj.as("s"),
        concat(lit("<http://ex/vocab/p"), pmod(col("l_suppkey"), lit(5)), lit(">")).as("p"),
        concat(lit("\""), col("l_orderkey"), lit("-"), col("l_linenumber"), lit("\"")).as("o"),
        lit(null).cast("string").as("g"))
      Sinks.turtleBlocks(quads, maxGroup = 100)
    },
    Some("""WITH q AS (SELECT
        CASE WHEN l_orderkey % 3 = 0 THEN '<http://ex/hub>'
             ELSE '<http://ex/li/' || l_orderkey || '>' END AS s,
        '<http://ex/vocab/p' || (l_suppkey % 5) || '>' AS p,
        '"' || l_orderkey || '-' || l_linenumber || '"' AS o FROM lineitem),
      d AS (SELECT DISTINCT s, p, o FROM q),
      r AS (SELECT s, p, o, row_number() OVER (PARTITION BY s, p ORDER BY o) AS rn FROM d),
      po AS (SELECT s, p || ' ' || string_agg(o, ', ' ORDER BY o) AS po
        FROM (SELECT s, p, o, (rn - 1) // 100 AS och FROM r) GROUP BY s, p, och),
      r2 AS (SELECT s, po, row_number() OVER (PARTITION BY s ORDER BY po) AS rn FROM po)
      SELECT s || ' ' || string_agg(po, ' ;' || chr(10) || chr(9) ORDER BY po) || ' .' AS block
      FROM (SELECT s, po, (rn - 1) // 100 AS pch FROM r2) GROUP BY s, pch"""),
    bench = true)

  private val k3 = Q("k3_logical_targets",
    (s, dir) => {
      val quads = t(s, dir, "customer").select(
        rml.iri(concat(lit("http://ex/customer/"), col("c_custkey"))).as("s"),
        lit("<http://ex/vocab/segment>").as("p"),
        rml.literal(col("c_mktsegment")).as("o"),
        lit(null).cast("string").as("g"))
      Sinks.routeTargets(quads, Map(
        "seg_building" -> (col("o") === "\"BUILDING\""),
        "seg_rest" -> (col("o") =!= "\"BUILDING\"")))
        .select(col("s"), col("p"), col("o"), col("target"))
    },
    Some("""WITH q AS (SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/segment>' AS p, '"' || c_mktsegment || '"' AS o FROM customer)
      SELECT s, p, o, 'seg_building' AS target FROM q WHERE o = '"BUILDING"'
      UNION ALL
      SELECT s, p, o, 'seg_rest' AS target FROM q WHERE o <> '"BUILDING"'"""))

  // ------------------------------------------------------- term construction

  private val tq1 = Q("t1_template_iri",
    (s, dir) => {
      val df = t(s, dir, "customer")
      df.select(rml.iri(rml.template("http://ex/customer/{c_name}", encode = true, df(_))).as("subject"))
    },
    Some("SELECT '<http://ex/customer/' || replace(c_name, '#', '%23') || '>' AS subject FROM customer"))

  /** Template-valued OBJECT map without rr:termType → IRI (R2RML §7.4;
    * reference: semantify.py:4297-4298 — reference-valued object maps
    * default to Literal instead, which t8/t9 cover).
    */
  private val tq2 = Q("t2_template_object_iri",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:shop;
         |    rr:objectMap [ rr:template "http://shop{c_nationkey}.example.org/c/{c_custkey}" ] ].""".stripMargin)
      .select(col("s"), col("p"), col("o")),
    Some("""SELECT DISTINCT '<http://ex/customer/' || c_custkey || '>' AS s,
      '<http://ex/vocab/shop>' AS p,
      '<http://shop' || c_nationkey || '.example.org/c/' || c_custkey || '>' AS o FROM customer"""))

  private val tq5 = Q("t5_iri_relative_base",
    (s, dir) => {
      val tm = TermMap(TermKind.Template, "Part/{p_partkey}", Some(TermType.Iri))
      val df = t(s, dir, "part")
      val ct = graft.exec.TermCompiler.rdfTerm(tm, None, Some("http://base.example.org/"), df(_), TermType.Iri)
      df.select(ct.column.as("subject"))
    },
    Some("SELECT '<http://base.example.org/Part/' || p_partkey || '>' AS subject FROM part"))

  private val tq6 = Q("t6_blank_node",
    (s, dir) => t(s, dir, "part").select(rml.bnode(col("p_name")).as("b")),
    Some("SELECT '_:' || replace(replace(p_name, ' ', '%20'), '/', '2F') AS b FROM part"))

  private val tq7 = Q("t7_literal_escape",
    (s, dir) => t(s, dir, "documents").select(col("doc_id"),
      rml.literal(concat(lit("he said \"hi\"\\"), col("lang"), lit("\nbye"))).as("o")),
    Some("""SELECT doc_id,
      '"he said \"hi\"\\' || lang || '\nbye"' AS o FROM documents"""))

  private val tq8 = Q("t8_datatype_dynamic",
    (s, dir) => {
      val df = t(s, dir, "orders")
      // constant datatype + dynamic datatypeMap (reference: semantify.py:6794-6842)
      val dtMap = when(col("o_totalprice") > 100000, lit(XSD + "decimal")).otherwise(lit(XSD + "double"))
      df.select(col("o_orderkey"),
        rml.typedLiteral(round(col("o_totalprice"), 2), dtMap).as("price_lit"),
        rml.typedLiteral(
          regexp_replace(concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit(" 00:00:00")),
            "^(\\d{4}-\\d{2}-\\d{2}) ", "$1T"),
          lit(XSD + "dateTime")).as("date_lit"))
    },
    Some("""SELECT o_orderkey,
      '"' || round(o_totalprice, 2) || '"^^<' ||
        CASE WHEN o_totalprice > 100000 THEN 'http://www.w3.org/2001/XMLSchema#decimal'
             ELSE 'http://www.w3.org/2001/XMLSchema#double' END || '>' AS price_lit,
      '"' || strftime(o_orderdate, '%Y-%m-%d') || 'T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>' AS date_lit
      FROM orders"""))

  private val tq9 = Q("t9_language_tag",
    (s, dir) => t(s, dir, "documents").select(col("doc_id"),
      rml.langLiteral(col("source"), col("lang")).as("o")),
    Some("""SELECT doc_id, '"' || source || '"@' || lang AS o FROM documents"""))

  private val tq12 = Q("t12_rdf_type",
    (s, dir) => nationTypeQuads(s, dir).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/nation/' || n_name || '>' AS s,
      '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
      '<http://ex/vocab/Nation>' AS o FROM nation"""))

  // -------------------------------------------------------------------- joins

  private def customerNationMapping(dir: String): String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |@prefix ex: <http://ex/vocab/> .
       |<CustTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}"; rr:class ex:Customer ];
       |  rr:predicateObjectMap [
       |    rr:predicate ex:name;
       |    rr:objectMap [ rml:reference "c_name" ]
       |  ];
       |  rr:predicateObjectMap [
       |    rr:predicate ex:nation;
       |    rr:objectMap [ rr:parentTriplesMap <NationTM>;
       |      rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ]
       |  ].
       |<NationTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir/nation.parquet"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/nation/{n_name}"; rr:class ex:Nation ].
       |""".stripMargin

  /** Composability: the materialized quad frame feeds straight into OLAP —
    * per-predicate stats over the engine's own output (the "analytics on
    * the KG you just built" shape). Oracle reconstructs the same quads in
    * SQL and aggregates identically.
    */
  private val rmlQuadStats = Q("rml_quad_stats",
    (s, dir) => Engine.materialize(s, customerNationMapping(dir))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(col("s")).as("n_subjects"),
        countDistinct(col("o")).as("n_objects")),
    Some("""WITH quads AS (
        SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
          '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
          '<http://ex/vocab/Customer>' AS o FROM customer
        UNION
        SELECT '<http://ex/customer/' || c_custkey || '>',
          '<http://ex/vocab/name>', '"' || c_name || '"' FROM customer
        UNION
        SELECT '<http://ex/customer/' || c_custkey || '>',
          '<http://ex/vocab/nation>',
          '<http://ex/nation/' || n_name || '>'
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        UNION
        SELECT '<http://ex/nation/' || n_name || '>',
          '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
          '<http://ex/vocab/Nation>' FROM nation)
      SELECT p, count(*) AS n_triples,
        count(DISTINCT s) AS n_subjects, count(DISTINCT o) AS n_objects
      FROM quads GROUP BY p"""))

  /** Full engine end-to-end over parquet: mapping parse → compile → quads. */
  private val rmlE2e = Q("rml_e2e_customer_nation",
    (s, dir) => Engine.materialize(s, customerNationMapping(dir))
      .select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
        '<http://ex/vocab/Customer>' AS o FROM customer
      UNION
      SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/name>' AS p,
        '"' || c_name || '"' AS o FROM customer
      UNION
      SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/nation>' AS p,
        '<http://ex/nation/' || n_name || '>' AS o
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION
      SELECT '<http://ex/nation/' || n_name || '>' AS s,
        '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
        '<http://ex/vocab/Nation>' AS o FROM nation"""),
    bench = true)

  /** GTFS-Madrid-bench shape (the reference's flagship heterogeneous
    * benchmark, kgcw_2023_challenge): one mapping mixing CSV + JSON + XML
    * sources with RefObjectMap joins across formats — customer (CSV) →
    * nation (JSON) → region (XML). The closest thing to a real-user
    * acceptance test the reference offers.
    */
  private def heteroMapping(csvDir: String, jsonPath: String, xmlDir: String): String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |<CustTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$csvDir"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/name>;
       |    rr:objectMap [ rml:reference "c_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/nation>;
       |    rr:objectMap [ rr:parentTriplesMap <NatTM>;
       |      rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ] ] .
       |<NatTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$jsonPath";
       |    rml:referenceFormulation ql:JSONPath; rml:iterator "$$.[*]" ];
       |  rr:subjectMap [ rr:template "http://ex/nation/{n_nationkey}" ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/name>;
       |    rr:objectMap [ rml:reference "n_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/region>;
       |    rr:objectMap [ rr:parentTriplesMap <RegTM>;
       |      rr:joinCondition [ rr:child "n_regionkey"; rr:parent "r_regionkey" ] ] ] .
       |<RegTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$xmlDir";
       |    rml:referenceFormulation ql:XPath; rml:iterator "/rows/row" ];
       |  rr:subjectMap [ rr:template "http://ex/region/{r_regionkey}" ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/name>;
       |    rr:objectMap [ rml:reference "r_name" ] ] .
       |""".stripMargin

  private val rmlHetero = Q("rml_hetero_e2e",
    (s, dir) => {
      val csvDir = exportDir(dir, "customer_hetero_csv")
      // customer is the one scale-proportional fixture in the catalog:
      // write it once per sf dir (sources are immutable) so repeated bench
      // runs measure the heterogeneous mapping, not the CSV re-export
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(csvDir, "_SUCCESS")))
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .write.mode("overwrite").option("header", "true").csv(csvDir)
      // nation is 25 rows at every SF (fixed TPC-H dimension) — the bounded
      // collect builds the single-document JSON array shape RML sources use
      val jsonDir = exportDir(dir, "nation_hetero_json")
      val natJson = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey")).toJSON.collect().mkString("[", ",", "]")
      val jd = java.nio.file.Paths.get(jsonDir)
      java.nio.file.Files.createDirectories(jd)
      java.nio.file.Files.writeString(jd.resolve("nation.json"), natJson)
      val xmlDir = exportDir(dir, "region_hetero_xml")
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .coalesce(1).write.mode("overwrite")
        .format("xml").option("rootTag", "rows").option("rowTag", "row").save(xmlDir)
      Engine.materialize(s, heteroMapping(csvDir, s"$jsonDir/nation.json", xmlDir))
        .select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/name>' AS p, '"' || c_name || '"' AS o FROM customer
      UNION
      SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/nation>' AS p,
        '<http://ex/nation/' || n_nationkey || '>' AS o
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION
      SELECT '<http://ex/nation/' || n_nationkey || '>' AS s,
        '<http://ex/vocab/name>' AS p, '"' || n_name || '"' AS o FROM nation
      UNION
      SELECT '<http://ex/nation/' || n_nationkey || '>' AS s,
        '<http://ex/vocab/region>' AS p,
        '<http://ex/region/' || r_regionkey || '>' AS o
      FROM nation JOIN region ON n_regionkey = r_regionkey
      UNION
      SELECT '<http://ex/region/' || r_regionkey || '>' AS s,
        '<http://ex/vocab/name>' AS p, '"' || r_name || '"' AS o FROM region"""),
    bench = true)

  /** The SCALE-PROPORTIONAL format twins of [[rmlHetero]]: the same
    * customer mapping shape, but the source is a JSON-lines / multi-file
    * XML export of the full customer table — so the JSON `$.[*]` iterator
    * and the XML rowTag scan (not just 25-row nation / 5-row region dims)
    * carry a decade campaign. Exports are written once per sf dir
    * (immutable, keyed on _SUCCESS) so repeated bench runs measure the
    * scan+iterator+template path, not the export. Both sources scan
    * distributed: JSON-lines split per line, XML across the 32 part
    * files. Oracle: the two customer POMs, format-independent.
    */
  private def custFormatMapping(dir: String, formulation: String,
      iterator: String): String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |<CustTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir";
       |    rml:referenceFormulation ql:$formulation; rml:iterator "$iterator" ];
       |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/name>;
       |    rr:objectMap [ rml:reference "c_name" ] ];
       |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/nation>;
       |    rr:objectMap [ rr:template "http://ex/nation/{c_nationkey}" ] ] .
       |""".stripMargin

  private val custFormatOracle =
    """SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/name>' AS p, '"' || c_name || '"' AS o FROM customer
      UNION
      SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
        '<http://ex/vocab/nation>' AS p,
        '<http://ex/nation/' || c_nationkey || '>' AS o FROM customer"""

  private val rmlHeteroJson = Q("rml_hetero_json_scaled",
    (s, dir) => {
      val jsonDir = exportDir(dir, "customer_hetero.jsonl")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(jsonDir, "_SUCCESS")))
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .write.mode("overwrite").json(jsonDir)
      Engine.materialize(s, custFormatMapping(jsonDir, "JSONPath", "$.[*]"))
        .select(col("s"), col("p"), col("o"))
    },
    Some(custFormatOracle),
    bench = true)

  private val rmlHeteroXml = Q("rml_hetero_xml_scaled",
    (s, dir) => {
      val xmlDir = exportDir(dir, "customer_hetero_xml")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(xmlDir, "_SUCCESS")))
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .write.mode("overwrite")
          .format("xml").option("rootTag", "rows").option("rowTag", "row").save(xmlDir)
      Engine.materialize(s, custFormatMapping(xmlDir, "XPath", "/rows/row"))
        .select(col("s"), col("p"), col("o"))
    },
    Some(custFormatOracle),
    bench = true)

  /** BASELINE "mappings" axis (1 TM × N POM): a wide mapping over the fact
    * table through the full RML path. The compiler turns all 12 POMs into
    * ONE scan + one explode projection — the reference pays per-POM cost
    * (BASELINE.md mappings axis: 15 single-POM TMs cost 5.5× one 15-POM TM).
    * Doubles stay below 1e7 so Spark and DuckDB render identical lexical
    * forms (both switch to scientific notation far above that).
    */
  private val wideCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  private def wideLineitemMapping(dir: String): String = {
    val poms = wideCols.map(c =>
      s"""  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/$c>;
         |    rr:objectMap [ rml:reference "$c" ] ];""".stripMargin).mkString("\n")
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |<WideLI> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir/lineitem.parquet"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/li/{l_orderkey}-{l_linenumber}" ];
       |${poms.stripSuffix(";")} .
       |""".stripMargin
  }

  private val rmlWide = Q("rml_wide_mapping",
    (s, dir) => Engine.materialize(s, wideLineitemMapping(dir))
      .select(col("s"), col("p"), col("o")),
    Some(wideLineitemOracle),
    bench = true)

  /** One UNION branch per wide column — shared by rml_wide_mapping and
    * rml_multi_tm, whose outputs are identical by construction (same
    * columns, different mapping shape).
    */
  private def wideLineitemOracle: String =
    wideCols.map(c =>
      s"""SELECT '<http://ex/li/' || l_orderkey || '-' || l_linenumber || '>' AS s,
         |  '<http://ex/vocab/$c>' AS p, '"' || $c || '"' AS o FROM lineitem""".stripMargin)
      .mkString("\n      UNION\n      ")

  /** The reference's "mapping shape" scaling axis (BASELINE.md: 15 TM ×
    * 1 POM, 362 s at 1 M rows): many small TriplesMaps over ONE source.
    * The engine compiles each TM separately but the self-union reads the
    * scan once per TM — the axis stresses per-TM fixed cost + the global
    * union dedup, the reference's worst shape.
    */
  private def multiTmMapping(dir: String): String = {
    val tms = wideCols.zipWithIndex.map { case (c, i) =>
      s"""<TM$i> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/lineitem.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/li/{l_orderkey}-{l_linenumber}" ];
         |  rr:predicateObjectMap [ rr:predicate <http://ex/vocab/$c>;
         |    rr:objectMap [ rml:reference "$c" ] ] .""".stripMargin
    }.mkString("\n")
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |$tms
       |""".stripMargin
  }

  private val rmlMultiTm = Q("rml_multi_tm",
    (s, dir) => Engine.materialize(s, multiTmMapping(dir))
      .select(col("s"), col("p"), col("o")),
    Some(wideLineitemOracle),
    bench = true)

  private val j1 = Q("j1_refobject_join",
    (s, dir) => Engine.materialize(s, customerNationMapping(dir))
      .where(col("p") === "<http://ex/vocab/nation>")
      .select(col("s"), col("o")),
    Some("""SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
      '<http://ex/nation/' || n_name || '>' AS o
      FROM customer JOIN nation ON c_nationkey = n_nationkey"""))

  private val j2 = Q("j2_multikey_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("ck1"), (col("c_custkey") % 5).as("ck2"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("pk1"), (col("s_suppkey") % 5).as("pk2"))
      c.join(sup, c("ck1") === sup("pk1") && c("ck2") === sup("pk2"))
        .select(col("c_custkey"), col("s_suppkey"))
    },
    Some("""SELECT c_custkey, s_suppkey
      FROM customer JOIN supplier
      ON c_nationkey = s_nationkey AND c_custkey % 5 = s_suppkey % 5"""))

  private def selfJoinMapping(dir: String): String =
    s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
       |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
       |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
       |@prefix ex: <http://ex/vocab/> .
       |<OrderTM> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir/orders.parquet"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/order/{o_orderkey}" ];
       |  rr:predicateObjectMap [
       |    rr:predicate ex:sameOrder;
       |    rr:objectMap [ rr:parentTriplesMap <OrderTM2>;
       |      rr:joinCondition [ rr:child "o_orderkey"; rr:parent "o_orderkey" ] ]
       |  ].
       |<OrderTM2> a rr:TriplesMap;
       |  rml:logicalSource [ rml:source "$dir/orders.parquet"; rml:referenceFormulation ql:CSV ];
       |  rr:subjectMap [ rr:template "http://ex/orderRef/{o_orderkey}" ].
       |""".stripMargin

  /** J6: the compiler must rewrite this join to a projection (no shuffle). */
  private val j6 = Q("j6_selfjoin_elimination",
    (s, dir) => Engine.materialize(s, selfJoinMapping(dir))
      .where(col("p") === "<http://ex/vocab/sameOrder>")
      .select(col("s"), col("o")),
    Some("""SELECT '<http://ex/order/' || o_orderkey || '>' AS s,
      '<http://ex/orderRef/' || o_orderkey || '>' AS o FROM orders"""))

  private val j7 = Q("j7_rdfstar_quoted",
    (s, dir) => {
      val df = t(s, dir, "customer")
      val subj = rml.iri(concat(lit("http://ex/customer/"), col("c_custkey")))
      val inner = rml.quoted(subj, lit("<http://ex/vocab/segment>"), rml.literal(col("c_mktsegment")))
      df.select(inner.as("quoted_subject"),
        lit("<http://ex/vocab/statedBy>").as("p"),
        lit("<http://ex/src/crm>").as("o"))
    },
    Some("""SELECT '<< <http://ex/customer/' || c_custkey || '> <http://ex/vocab/segment> "' ||
      c_mktsegment || '" >>' AS quoted_subject,
      '<http://ex/vocab/statedBy>' AS p, '<http://ex/src/crm>' AS o FROM customer"""))

  private val j8 = Q("j8_view_left_join",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
    Some("""SELECT c_custkey, coalesce(n.n_orders, 0) AS n_orders
      FROM customer LEFT JOIN
        (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) n
      ON c_custkey = n.o_custkey"""))

  private val j9 = Q("j9_gather_membership",
    (s, dir) => {
      // gather customers per nation → rdf container membership triples
      val c = t(s, dir, "customer")
      val gathered = c.groupBy(col("c_nationkey"))
        .agg(array_sort(collect_list(col("c_custkey"))).as("members"))
      gathered.select(col("c_nationkey"),
          posexplode(col("members")).as(Seq("pos", "custkey")))
        .select(
          rml.iri(concat(lit("http://ex/nationGroup/"), col("c_nationkey"))).as("s"),
          concat(lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#_"), col("pos") + 1, lit(">")).as("p"),
          rml.iri(concat(lit("http://ex/customer/"), col("custkey"))).as("o"))
    },
    Some("""SELECT '<http://ex/nationGroup/' || c_nationkey || '>' AS s,
      '<http://www.w3.org/1999/02/22-rdf-syntax-ns#_' ||
        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) || '>' AS p,
      '<http://ex/customer/' || c_custkey || '>' AS o FROM customer"""))

  // ------------------------------------------------------- aggregation-shaped

  private val a1 = Q("a1_group_collect",
    (s, dir) => t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(array_join(array_sort(collect_list(col("o_orderkey").cast("string"))), ",").as("order_keys")),
    Some("""SELECT o_custkey, string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey::VARCHAR) AS order_keys
      FROM orders GROUP BY o_custkey"""))

  private val a2 = Q("a2_rdf_list",
    (s, dir) => {
      // rdf:List cells with deterministic blank-node labels
      // md5(custkey:pos) (SURVEY §7 "what's hard" #2)
      val o = t(s, dir, "orders")
      val cells = o.groupBy(col("o_custkey"))
        .agg(array_sort(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"), size(col("ks")).as("n"),
          posexplode(col("ks")).as(Seq("pos", "k")))
      cells.select(
        concat(lit("_:"), md5(concat(col("o_custkey"), lit(":"), col("pos")).cast("binary"))).as("cell"),
        rml.iri(concat(lit("http://ex/order/"), col("k"))).as("first"),
        when(col("pos") === col("n") - 1,
          lit("<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>"))
          .otherwise(concat(lit("_:"),
            md5(concat(col("o_custkey"), lit(":"), col("pos") + 1).cast("binary")))).as("rest"))
    },
    Some("""WITH cells AS (
        SELECT o_custkey,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS pos,
          count(*) OVER (PARTITION BY o_custkey) AS n,
          o_orderkey AS k
        FROM orders)
      SELECT '_:' || md5(o_custkey || ':' || pos) AS cell,
        '<http://ex/order/' || k || '>' AS first,
        CASE WHEN pos = n - 1 THEN '<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>'
             ELSE '_:' || md5(o_custkey || ':' || (pos + 1)) END AS rest
      FROM cells"""))

  private val a4 = Q("a4_triple_count",
    (s, dir) => Engine.materialize(s, customerNationMapping(dir))
      .groupBy(col("p")).agg(count(lit(1)).as("n_triples")),
    Some("""SELECT '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
        (SELECT count(*) FROM customer) + (SELECT count(*) FROM nation) AS n_triples
      UNION ALL
      SELECT '<http://ex/vocab/name>' AS p, count(DISTINCT c_custkey || '|' || c_name) FROM customer
      UNION ALL
      SELECT '<http://ex/vocab/nation>' AS p, count(*) AS n_triples
      FROM customer JOIN nation ON c_nationkey = n_nationkey"""))

  // ------------------------------------------------------------ dedup / union

  private val d2 = Q("d2_dedup_triples",
    // widen: the IRI renders ran serially on the single-row-group scan
    // ahead of the dedup exchange (r19: wall 1.3 s, user 2.3 s); the
    // round-robin exchange moves two int keys, render is per-row
    (s, dir) => graft.util.ScanSpread.widen(
      t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"))).select(
        rml.iri(concat(lit("http://ex/supplier/"), col("l_suppkey"))).as("s"),
        lit("<http://ex/vocab/supplies>").as("p"),
        rml.iri(concat(lit("http://ex/part/"), col("l_partkey"))).as("o"))
      .dropDuplicates("s", "p", "o"),
    Some("""SELECT DISTINCT '<http://ex/supplier/' || l_suppkey || '>' AS s,
      '<http://ex/vocab/supplies>' AS p,
      '<http://ex/part/' || l_partkey || '>' AS o FROM lineitem"""),
    bench = true)

  /** D2's semantics through the hash-routed strategy (same fixture, same
    * oracle): unique-hash rows bypass the row shuffle entirely; only
    * colliding hashes pay the exact dedup. Green here = the routed plan
    * IS `dropDuplicates` semantically.
    */
  private val d2b = Q("d2b_dedup_routed",
    (s, dir) => graft.ops.Dedup.dedupHashRouted(
      t(s, dir, "lineitem").select(
        rml.iri(concat(lit("http://ex/supplier/"), col("l_suppkey"))).as("s"),
        lit("<http://ex/vocab/supplies>").as("p"),
        rml.iri(concat(lit("http://ex/part/"), col("l_partkey"))).as("o")),
      Seq("s", "p", "o")),
    Some("""SELECT DISTINCT '<http://ex/supplier/' || l_suppkey || '>' AS s,
      '<http://ex/vocab/supplies>' AS p,
      '<http://ex/part/' || l_partkey || '>' AS o FROM lineitem"""))

  private val u1 = Q("u_union_dedup",
    (s, dir) => {
      val a = t(s, dir, "customer").select(
        rml.iri(concat(lit("http://ex/party/"), col("c_nationkey"))).as("s"),
        lit("<http://ex/vocab/kind>").as("p"), rml.literal(lit("party")).as("o"))
      val b = t(s, dir, "supplier").select(
        rml.iri(concat(lit("http://ex/party/"), col("s_nationkey"))).as("s"),
        lit("<http://ex/vocab/kind>").as("p"), rml.literal(lit("party")).as("o"))
      a.unionByName(b).dropDuplicates()
    },
    Some("""SELECT '<http://ex/party/' || c_nationkey || '>' AS s,
        '<http://ex/vocab/kind>' AS p, '"party"' AS o FROM customer
      UNION
      SELECT '<http://ex/party/' || s_nationkey || '>' AS s,
        '<http://ex/vocab/kind>' AS p, '"party"' AS o FROM supplier"""))

  // -------------------------------------------------------------- FnO library

  private val fnoString = Q("fno_string_ops",
    (s, dir) => {
      val df = t(s, dir, "part")
      def f(n: String, args: Column*) = FnoRegistry.apply(n, args.toList)
      df.select(col("p_partkey"),
        f("toLowerCase", col("p_type")).as("lower_type"),
        f("toUpperCase", col("p_name")).as("upper_name"),
        f("string_length", col("p_name")).as("name_len"),
        f("string_substring", col("p_name"), lit(1), lit(4)).as("sub"),
        f("string_replace", col("p_name"), lit("widget"), lit("gadget")).as("replaced"),
        f("string_contains", col("p_name"), lit("cold")).as("has_cold"),
        f("string_md5", col("p_name")).as("name_md5"),
        f("concat2", col("p_brand"), col("p_type")).as("brand_type"),
        f("slugify", concat_ws(" ", col("p_name"), col("p_brand"))).as("slug"))
    },
    Some("""SELECT p_partkey,
      lower(p_type) AS lower_type,
      upper(p_name) AS upper_name,
      length(p_name)::VARCHAR AS name_len,
      CASE WHEN length(p_name) >= 4 THEN substring(p_name, 2, 3) ELSE NULL END AS sub,
      replace(p_name, 'widget', 'gadget') AS replaced,
      CASE WHEN p_name LIKE '%cold%' THEN 'true' ELSE 'false' END AS has_cold,
      md5(p_name) AS name_md5,
      p_brand || p_type AS brand_type,
      trim(regexp_replace(lower(p_name || ' ' || p_brand), '[^a-z0-9]+', '-', 'g'), '-') AS slug
      FROM part"""))

  private val fnoCond = Q("fno_conditions",
    (s, dir) => {
      val df = t(s, dir, "orders")
      def f(n: String, args: Column*) = FnoRegistry.apply(n, args.toList)
      df.select(col("o_orderkey"),
        f("equal", col("o_orderstatus"), lit("F")).as("is_f"),
        f("notEqual", col("o_orderpriority"), lit("3-MEDIUM")).as("not_medium"),
        f("isNull", col("o_orderstatus")).as("status_null"),
        f("trueCondition", when(col("o_totalprice") > 100000, lit("true")).otherwise(lit("")),
          col("o_orderstatus")).as("status_if_big"))
    },
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderstatus = 'F' THEN 'true' ELSE 'false' END AS is_f,
      CASE WHEN o_orderpriority <> '3-MEDIUM' THEN 'true' ELSE 'false' END AS not_medium,
      'false' AS status_null,
      CASE WHEN o_totalprice > 100000 THEN o_orderstatus ELSE NULL END AS status_if_big
      FROM orders"""))

  private val fnoDate = Q("fno_dates",
    (s, dir) => {
      val df = t(s, dir, "orders")
        .select(col("o_orderkey"), date_format(col("o_orderdate"), "dd/MM/yyyy").as("euro_date"))
      val call = FunctionCall("http://ex/fn/normalizeDate", Map(
        "p1" -> FunctionArg.Ref("euro_date"), "p2" -> FunctionArg.Const("%d/%m/%Y")))
      df.select(col("o_orderkey"), FnoRegistry.compile(call, df(_)).as("iso_date"))
    },
    Some("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS iso_date FROM orders"))

  private val fnoUrl = Q("fno_url_ops",
    (s, dir) => {
      val df = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          concat(lit("https://example.com/c/"), col("c_custkey")).as("url"))
      def f(n: String, args: Column*) = FnoRegistry.apply(n, args.toList)
      df.select(col("c_custkey"),
        f("parseURL", col("url")).getField("domainOutput").as("domain"),
        f("parseURL", col("url")).getField("protocolOutput").as("protocol"),
        f("toUpperCaseURL", col("c_mktsegment")).as("upper_url"),
        f("schema", col("c_mktsegment")).as("schema_iri"),
        f("escape", concat(col("c_mktsegment"), lit(" & more"))).as("escaped"))
    },
    // parseURL follows the reference's manual split (fnml_functions.py:160-170):
    // for https://example.com/c/<k> the domain keeps the path prefix
    Some("""SELECT c_custkey,
      'example.com/c' AS domain, 'https' AS protocol,
      'HTTP://' || upper(c_mktsegment) AS upper_url,
      'https://schema.org/' || c_mktsegment AS schema_iri,
      c_mktsegment || '%20%26%20more' AS escaped
      FROM customer"""))

  // ------------------------------------------- engine-e2e: CC / star / graphs

  private val mappingPrefixes =
    """@prefix rr: <http://www.w3.org/ns/r2rml#> .
      |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
      |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
      |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix ex: <http://ex/vocab/> .
      |@prefix fnml: <http://semweb.mmlab.be/ns/fnml#> .
      |@prefix fno: <https://w3id.org/function/ontology#> .
      |@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#> .
      |""".stripMargin

  private val rmlGather = Q("rml_gather_seq",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/nation.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/nation/{n_nationkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:names;
         |    rr:objectMap [ rml:gather ( [ rml:reference "n_name" ] [ rml:reference "n_regionkey" ] );
         |                   rml:gatherAs rdf:Seq ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""WITH base AS (SELECT
        '<http://ex/nation/' || n_nationkey || '>' AS subj,
        '_:' || md5('<http://ex/nation/' || n_nationkey || '>|<http://ex/vocab/names>|0') AS head,
        n_name, n_regionkey FROM nation)
      SELECT subj AS s, '<http://ex/vocab/names>' AS p, head AS o FROM base
      UNION ALL
      SELECT head AS s, '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
        '<http://www.w3.org/1999/02/22-rdf-syntax-ns#Seq>' AS o FROM base
      UNION ALL
      SELECT head AS s, '<http://www.w3.org/1999/02/22-rdf-syntax-ns#_1>' AS p,
        '"' || n_name || '"' AS o FROM base
      UNION ALL
      SELECT head AS s, '<http://www.w3.org/1999/02/22-rdf-syntax-ns#_2>' AS p,
        '"' || n_regionkey || '"' AS o FROM base"""))

  private val rmlStar = Q("rml_star_nonasserted",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:segment; rr:objectMap [ rml:reference "c_mktsegment" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{c_custkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:assertedBy;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM> ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/stmt/' || c_custkey || '>' AS s,
      '<http://ex/vocab/assertedBy>' AS p,
      '<< <http://ex/customer/' || c_custkey || '> <http://ex/vocab/segment> "' || c_mktsegment || '" >>' AS o
      FROM customer"""))

  /** J7 general form: the quoted TM reads a DIFFERENT source and carries an
    * rr:joinCondition, so child rows join the parent's pre-computed
    * quoted-triple frame; the quoted TM has TWO POMs — both quoted branches
    * must be emitted (reference: inner_hash_maker keyed "quoted_"+TM+child,
    * inner_functions.py:119-137; lookup semantify.py:7566-7567).
    */
  private val rmlStarCross = Q("rml_star_cross_source",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<QTM> a rml:NonAssertedTriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
         |  rr:predicateObjectMap [ rr:predicate ex:segment; rr:objectMap [ rml:reference "c_mktsegment" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "c_name" ] ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/orders.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/stmt/{o_orderkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:saysAbout;
         |    rr:objectMap [ rml:quotedTriplesMap <QTM>;
         |                   rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ] ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/stmt/' || o_orderkey || '>' AS s,
        '<http://ex/vocab/saysAbout>' AS p,
        '<< <http://ex/customer/' || c_custkey || '> <http://ex/vocab/segment> "' || c_mktsegment || '" >>' AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
      UNION
      SELECT '<http://ex/stmt/' || o_orderkey || '>' AS s,
        '<http://ex/vocab/saysAbout>' AS p,
        '<< <http://ex/customer/' || c_custkey || '> <http://ex/vocab/name> "' || c_name || '" >>' AS o
        FROM orders JOIN customer ON o_custkey = c_custkey"""))

  /** J2 general form THROUGH a mapping: the join keys are rml:childMap /
    * rml:parentMap templates (not plain column references) — the engine
    * evaluates the computed key expressions on both sides and joins on
    * them (reference: semantify.py:2388-2409 child/parent map grammar).
    */
  private val j2Rml = Q("j2_rml_childmap",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<Cust> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ].
         |<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/orders.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/order/{o_orderkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:cust;
         |    rr:objectMap [ rr:parentTriplesMap <Cust>;
         |      rr:joinCondition [
         |        rml:childMap [ rr:template "K{o_custkey}" ];
         |        rml:parentMap [ rr:template "K{c_custkey}" ] ] ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/order/' || o_orderkey || '>' AS s,
      '<http://ex/vocab/cust>' AS p,
      '<http://ex/customer/' || c_custkey || '>' AS o
      FROM orders JOIN customer ON 'K' || o_custkey = 'K' || c_custkey"""))

  /** S4/S5/P1 end-to-end against a real JDBC database: the region table is
    * loaded into embedded Derby, then read back through a d2rq:jdbcDSN +
    * rr:tableName mapping — which exercises the synthesized
    * `SELECT DISTINCT <mapped attrs>` pushdown (MappingCompiler
    * .synthesizeJdbcQuery) and JDBC type rendering, oracle-checked against
    * the same parquet table.
    */
  private val s4Jdbc = Q("s4_jdbc_scan",
    (s, dir) => {
      val dsn = "jdbc:derby:memory:graftcat"
      t(s, dir, "region").write.format("jdbc")
        .option("url", dsn + ";create=true").option("dbtable", "region_jdbc")
        // Derby's default string mapping is CLOB, which cannot appear in
        // the synthesized SELECT DISTINCT — pin comparable types
        .option("createTableColumnTypes", "r_name VARCHAR(64)")
        .mode("overwrite").save()
      Engine.materialize(s, mappingPrefixes +
        """@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
          |<TM> a rr:TriplesMap;
          |  rml:logicalSource [
          |    rml:source [ a d2rq:Database; d2rq:jdbcDSN "jdbc:derby:memory:graftcat" ];
          |    rr:tableName "region_jdbc" ];
          |  rr:subjectMap [ rr:template "http://ex/region/{r_regionkey}" ];
          |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "r_name" ] ].
          |""".stripMargin).select(col("s"), col("p"), col("o"))
    },
    Some("""SELECT '<http://ex/region/' || r_regionkey || '>' AS s,
      '<http://ex/vocab/name>' AS p,
      '"' || r_name || '"' AS o
      FROM region"""))

  private val rmlGraphs = Q("rml_graph_quads",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}";
         |                  rr:graphMap [ rr:template "http://ex/g/{c_mktsegment}" ] ];
         |  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rml:reference "c_name" ] ].
         |""".stripMargin).select(col("s"), col("p"), col("o"), col("g")),
    Some("""SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
      '<http://ex/vocab/name>' AS p, '"' || c_name || '"' AS o,
      '<http://ex/g/' || c_mktsegment || '>' AS g FROM customer"""))

  private val rmlFno = Q("rml_fno_object",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/part.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/part/{p_partkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:nameUpper;
         |    rr:objectMap [ fnml:functionValue [
         |      rr:predicateObjectMap [ rr:predicate fno:executes; rr:object grel:toUpperCase ],
         |        [ rr:predicate grel:inputString; rr:objectMap [ rml:reference "p_name" ] ]
         |    ] ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/part/' || p_partkey || '>' AS s,
      '<http://ex/vocab/nameUpper>' AS p, '"' || upper(p_name) || '"' AS o FROM part"""))

  /** §2.9 named parameter binding: the mapping declares string_replace's
    * parameters in scrambled order (replace-value first, find last) and
    * array_join's separator before its array — legal, order-free RDF. The
    * engine must bind by parameter-IRI local name like the reference's
    * `global_dic` (fnml_functions.py:86-90, 120-126), not declaration order.
    */
  private val fnoParamOrder = Q("fno_param_order",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/part.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/part/{p_partkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:fixedName;
         |    rr:objectMap [ fnml:functionValue [
         |      rr:predicateObjectMap
         |        [ rr:predicate grel:p_string_replace; rr:objectMap [ rr:constant "metal" ] ],
         |        [ rr:predicate fno:executes; rr:object grel:string_replace ],
         |        [ rr:predicate grel:p_string_find; rr:objectMap [ rr:constant "steel" ] ],
         |        [ rr:predicate grel:valueParameter; rr:objectMap [ rml:reference "p_name" ] ]
         |    ] ]
         |  ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:brandSize;
         |    rr:objectMap [ fnml:functionValue [
         |      rr:predicateObjectMap
         |        [ rr:predicate grel:p_string_sep; rr:objectMap [ rr:constant "-" ] ],
         |        [ rr:predicate fno:executes; rr:object grel:array_join ],
         |        [ rr:predicate grel:p_array_a; rr:objectMap [ rml:reference "p_brand" ] ],
         |        [ rr:predicate grel:p_array_a; rr:objectMap [ rml:reference "p_size" ] ]
         |    ] ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/part/' || p_partkey || '>' AS s,
        '<http://ex/vocab/fixedName>' AS p,
        '"' || replace(p_name, 'steel', 'metal') || '"' AS o FROM part
      UNION
      SELECT '<http://ex/part/' || p_partkey || '>' AS s,
        '<http://ex/vocab/brandSize>' AS p,
        '"' || p_brand || '-' || p_size || '"' AS o FROM part"""))

  /** §2.9 rml:return named outputs: parseURL yields a multi-output result;
    * rml:return grel:domainOutput selects one field (reference:
    * semantify.py:2428-2431 parse, 7227-7231 apply).
    */
  private val rmlFnoReturn = Q("rml_fno_return",
    (s, dir) => Engine.materialize(s, mappingPrefixes +
      s"""<TM> a rr:TriplesMap;
         |  rml:logicalSource [ rml:source "$dir/customer.parquet"; rml:referenceFormulation ql:CSV ];
         |  rr:subjectMap [ rr:template "http://ex/customer/{c_custkey}" ];
         |  rr:predicateObjectMap [
         |    rr:predicate ex:domain;
         |    rr:objectMap [
         |      fnml:functionValue [
         |        rr:predicateObjectMap
         |          [ rr:predicate fno:executes; rr:object grel:parseURL ],
         |          [ rr:predicate grel:stringParameter;
         |            rr:objectMap [ rr:template "https://shop{c_nationkey}.example.org/c/{c_custkey}" ] ]
         |      ];
         |      rml:return grel:domainOutput
         |    ]
         |  ].""".stripMargin).select(col("s"), col("p"), col("o")),
    Some("""SELECT '<http://ex/customer/' || c_custkey || '>' AS s,
      '<http://ex/vocab/domain>' AS p,
      '"shop' || c_nationkey || '.example.org/c"' AS o FROM customer"""))

  val queries: Seq[Q] = Seq(
    q1, q3, q18, w1, p1, p2, p3, p4, p5, d5,
    s1, s2, s3, s6, s7, s7b, s8, s8b, s8c, s9, v2,
    k1, k2, k2b, k3, k4a, k4b, k4c, k4d, k4e, k4f,
    tq1, tq2, tq5, tq6, tq7, tq8, tq9, tq12,
    rmlE2e, rmlHetero, rmlHeteroJson, rmlHeteroXml, rmlWide, rmlMultiTm,
    rmlQuadStats, j1, j2, j6, j7, j8, j9,
    a1, a2, a4, d2, d2b, u1,
    fnoString, fnoCond, fnoDate, fnoUrl, fnoParamOrder, rmlFnoReturn,
    rmlGather, rmlStar, rmlStarCross, rmlGraphs, rmlFno, s4Jdbc, j2Rml)
}
