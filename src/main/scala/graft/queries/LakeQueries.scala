package graft.queries

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.AttributeValues
import graft.operators.{Ingest, QueryService, Search}
import graft.sources.{Catalog, Fixtures, Lake, Manifest}
import graft.streaming.{CdcStream, IngestStream}

/** Lake IO + catalog + query-service lifecycle, exercised end-to-end and
  * oracle-checked against the parquet originals (SURVEY.md §2.1/§2.2/§3).
  *
  * Roundtrip queries write to a JVM temp dir inside the query body — the
  * driver only sees the final DataFrame, and the oracle runs directly on
  * the source parquet, so a roundtrip mismatch (schema drift, format
  * loss) fails the differential check. That IS the test.
  */
object LakeQueries {

  /** Deterministic metadata table derived from `documents` — the
    * catalog fixture used by the metadata/content query-service checks.
    * Mirrored verbatim in the oracle SQL (keep in sync!). */
  private def metaFromDocs(s: org.apache.spark.sql.SparkSession,
                           dir: String) =
    Tables.load(s, dir, "documents").select(
      lpad(col("doc_id").cast("string"), 6, "0").as("id"),
      timestamp_micros((lit(1704067200L) + (col("doc_id") % 90) * 60)
        * 1000000L).as("meta_ts"),
      col("lang").as("data_type"),
      col("source"),
      lit("system").as("owner"),
      concat(lit("lake://raw/docs/"), col("doc_id")).as("s3Location"),
      col("n_chars").as("size_bytes"),
      lit("ingested").as("status"),
      // real ArrayType(StringType) tags list, derived deterministically
      // (reference metadata records carry `tags: L`,
      // ingest-data-lambda.py:90-92)
      when(col("n_chars") > 400,
        array(col("lang"), col("source"), lit("long")))
        .otherwise(array(col("lang"), col("source"))).as("tags"))

  private val metaSql =
    """SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id,
       make_timestamp((1704067200 + (doc_id % 90) * 60) * 1000000) AS meta_ts,
       lang AS data_type, source, 'system' AS owner,
       'lake://raw/docs/' || doc_id AS s3Location,
       n_chars AS size_bytes, 'ingested' AS status,
       CASE WHEN n_chars > 400 THEN [lang, source, 'long']
            ELSE [lang, source] END AS tags
       FROM documents"""

  val entries: Seq[QueryDef] = Seq(

    // ---- S2/K2: CSV write → sniffed read → aggregate --------------------
    QueryDef("q31_csv_roundtrip",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_csv")
        val nation = Tables.load(s, dir, "nation")
        Lake.writeZone(nation, root, Lake.Processed, "nation", "csv")
        Lake.read(s, Lake.zonePath(root, Lake.Processed, "nation"), "csv")
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n"), min("n_name").as("first_nation"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_nation
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
      kind = QueryDef.Pipeline),

    // ---- S3/K3: JSON write → schema'd read → aggregate -------------------
    QueryDef("q32_json_roundtrip",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_json")
        val orders = Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") < 1000)
        Lake.writeZone(orders, root, Lake.Raw, "orders", "json")
        s.read.schema(orders.schema)
          .json(Lake.zonePath(root, Lake.Raw, "orders"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.functions.Num.moneySum(col("o_totalprice"), 0).as("total"),
            max("o_orderdate").as("last_date"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))),0) AS DOUBLE) AS total,
        max(o_orderdate) AS last_date
        FROM orders WHERE o_orderkey < 1000
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      kind = QueryDef.Pipeline),

    // ---- S1: extension sniffing over a mixed-format raw zone ---------------
    QueryDef("q33_format_sniff",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_sniff")
        // coalesce(1): the sniffer below reads a single part file, so the
        // whole table must land in one file per format.
        val nation = Tables.load(s, dir, "nation").coalesce(1)
        Seq("csv", "json", "orc", "parquet").foreach { fmt =>
          Lake.writeZone(nation, root, Lake.Raw, s"nation_$fmt", fmt)
        }
        val perFormat = Seq("csv", "json", "orc", "parquet").map { fmt =>
          val dirPath = java.nio.file.Paths
            .get(Lake.zonePath(root, Lake.Raw, s"nation_$fmt"))
          val dataFile = Files.list(dirPath).iterator().asScala
            .filter(p => Lake.detectFileType(p.toString).isDefined)
            .toSeq.sortBy(_.toString).head
          // json part files need the schema: NDJSON single part, no header
          val df = Lake.readAuto(s, dataFile.toString).get
          df.select(lit(fmt).as("fmt")).groupBy("fmt")
            .agg(count(lit(1)).as("n"))
        }
        perFormat.reduce(_ unionByName _).orderBy("fmt")
      },
      Some("""SELECT 'csv' AS fmt, count(*) AS n FROM nation
        UNION ALL SELECT 'json', count(*) FROM nation
        UNION ALL SELECT 'orc', count(*) FROM nation
        UNION ALL SELECT 'parquet', count(*) FROM nation
        ORDER BY fmt"""),
      kind = QueryDef.Pipeline),

    // ---- S2/K2 ORC: columnar-alternative roundtrip ----------------------
    QueryDef("q85_orc_roundtrip",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_orc")
        val supplier = Tables.load(s, dir, "supplier")
        Lake.writeZone(supplier, root, Lake.Processed, "supplier", "orc")
        Lake.read(s, Lake.zonePath(root, Lake.Processed, "supplier"), "orc")
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            graft.functions.Num.moneySum(col("s_acctbal"), 2).as("total_bal"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n,
          CAST(round(sum(CAST(s_acctbal AS DECIMAL(25,6))),2) AS DOUBLE)
            AS total_bal
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""),
      kind = QueryDef.Pipeline),

    // ---- S3 robustness: corrupt-line quarantine on NDJSON ingest --------
    QueryDef("q88_json_quarantine",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_quar")
        val nation = Tables.load(s, dir, "nation")
          .select("n_nationkey", "n_name")
        // render NDJSON, deterministically mangling every 5th record
        nation.select(
            when(col("n_nationkey") % 5 === 0,
              concat(lit("BROKEN{"), col("n_name")))
              .otherwise(to_json(struct(col("n_nationkey"), col("n_name"))))
              .as("value"))
          .coalesce(1).write.mode("overwrite").text(s"$root/in")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_name",
            org.apache.spark.sql.types.StringType)))
        val (good, bad) = Lake.readJsonQuarantine(s, s"$root/in", schema)
        good.agg(count(lit(1)).as("good_rows"),
            sum("n_nationkey").as("good_key_sum"))
          .crossJoin(bad.agg(count(lit(1)).as("quarantined")))
      },
      Some("""SELECT
          CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS good_rows,
          CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey
            ELSE 0 END) AS BIGINT) AS good_key_sum,
          CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS quarantined
        FROM nation"""),
      kind = QueryDef.Pipeline),

    // ---- S7/W1/P5-P8: conjunctive metadata search, recent-first, limit ------
    QueryDef("q34_metadata_search",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
          .withColumnRenamed("meta_ts", "timestamp")
          .withColumnRenamed("data_type", "dataType")
        val f = Catalog.MetaFilter(
          dataType = Some("en"),
          source = Some("src3"),
          dateFrom = Some(java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
          dateTo = Some(java.sql.Timestamp.valueOf("2024-01-01 01:20:00")),
          limit = 20)
        Catalog.search(meta, f)
          .select(col("id"), col("dataType").as("data_type"), col("source"),
            col("size_bytes"), col("timestamp").as("meta_ts"))
      },
      Some(s"""WITH meta AS ($metaSql)
        SELECT id, data_type, source, size_bytes, meta_ts FROM meta
        WHERE data_type = 'en' AND source = 'src3'
          AND meta_ts BETWEEN TIMESTAMP '2024-01-01 00:10:00'
                          AND TIMESTAMP '2024-01-01 01:20:00'
        ORDER BY meta_ts DESC, id ASC LIMIT 20""")),

    // ---- S7 pagination: keyset continuation (page 2 by cursor) ----------
    QueryDef("q89_metadata_page2",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
          .withColumnRenamed("meta_ts", "timestamp")
          .withColumnRenamed("data_type", "dataType")
        val f = Catalog.MetaFilter(
          dataType = Some("en"),
          source = Some("src3"),
          dateFrom = Some(java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
          dateTo = Some(java.sql.Timestamp.valueOf("2024-01-01 01:20:00")),
          limit = 20)
        Catalog.searchAfter(meta, f,
            java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "001000")
          .select(col("id"), col("dataType").as("data_type"), col("source"),
            col("size_bytes"), col("timestamp").as("meta_ts"))
      },
      Some(s"""WITH meta AS ($metaSql)
        SELECT id, data_type, source, size_bytes, meta_ts FROM meta
        WHERE data_type = 'en' AND source = 'src3'
          AND meta_ts BETWEEN TIMESTAMP '2024-01-01 00:10:00'
                          AND TIMESTAMP '2024-01-01 01:20:00'
          AND (meta_ts < TIMESTAMP '2024-01-01 01:00:00'
               OR (meta_ts = TIMESTAMP '2024-01-01 01:00:00'
                   AND id > '001000'))
        ORDER BY meta_ts DESC, id ASC LIMIT 20""")),

    // ---- P8 (tags branch): AND-combined array_contains over a REAL ---------
    // ArrayType tags column, through the same MetaFilter/predicate path
    // the reference AND-folds (query-data-lambda.py:142-145:
    // `Attr('tags').contains(tag)` per requested tag).
    QueryDef("q72_tags_search",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
          .withColumnRenamed("meta_ts", "timestamp")
          .withColumnRenamed("data_type", "dataType")
        val f = Catalog.MetaFilter(tags = Seq("en", "long"), limit = 25)
        Catalog.search(meta, f)
          .select(col("id"), col("source"), col("size_bytes"),
            size(col("tags")).cast("long").as("n_tags"),
            col("timestamp").as("meta_ts"))
      },
      Some(s"""WITH meta AS ($metaSql)
        SELECT id, source, size_bytes,
          CAST(len(tags) AS BIGINT) AS n_tags, meta_ts FROM meta
        WHERE list_contains(tags, 'en') AND list_contains(tags, 'long')
        ORDER BY meta_ts DESC, id ASC LIMIT 25""")),

    // ---- S10+K1+K7+A3 end-to-end: API sample payloads → ingest → -----------
    // metadata readback. The oracle REBUILDS the exact payload bodies
    // from range() (they're deterministic by construction, see
    // Fixtures.apiPayloads) and recomputes sizeBytes as the length of
    // the {"data":"<escaped body>"} JSON the size metric serializes —
    // so a drift in payload shape, defaulting, or the size metric fails
    // the hash. layout_ok is computed ONLY on the Spark side (the
    // oracle can't know the temp dir) and must come back true.
    QueryDef("q73_api_ingest",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_api")
        val at = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
        Ingest.run(s, Fixtures.apiPayloads(s, 200L), root,
          s"$root/meta", at)
        val meta = s.read.parquet(s"$root/meta")
        val expectedLoc = concat(lit(s"$root/raw/"), col("dataType"),
          lit("/2024-03-01/"), col("id"), lit(".json"))
        meta.groupBy("dataType").agg(
            count(lit(1)).as("n"),
            sum("sizeBytes").as("total_size"),
            countDistinct("s3Location").as("locations"),
            min(when(col("s3Location") === expectedLoc &&
              col("owner") === "system" &&
              col("status") === "ingested", 1L).otherwise(0L)).as("ok"))
          .select(col("dataType"), col("n"), col("total_size"),
            col("locations"), (col("ok") === 1L).as("layout_ok"))
          .orderBy("dataType")
      },
      Some("""WITH ids AS (SELECT range AS id FROM range(1, 201)),
        b AS (SELECT id,
          (['sales','user','metrics','generic'])[CAST(id % 4 AS INT) + 1]
            AS dataType,
          CASE CAST(id % 4 AS INT)
            WHEN 0 THEN '{"date":"2024-01-' || printf('%02d', id % 28 + 1)
              || '","items":[{"product":"Widget A","quantity":'
              || CAST(id % 9 + 1 AS VARCHAR)
              || ',"price":10.99}],"total":'
              || printf('%.2f', CAST(id % 500 AS DOUBLE) + 0.99)
              || ',"customer":{"id":"CUST-'
              || printf('%08d', (id * 7919) % 100000000)
              || '","region":"Northeast"}}'
            WHEN 1 THEN '{"userId":"USER-'
              || printf('%08d', (id * 104729) % 100000000)
              || '","name":"Sample User","email":"user@example.com",'
              || '"preferences":{"theme":"'
              || (['dark','light'])[CAST(id % 2 AS INT) + 1]
              || '","notifications":true},"lastLogin":"2024-01-'
              || printf('%02d', id % 28 + 1) || 'T00:00:00"}'
            WHEN 2 THEN '{"timestamp":"2024-01-'
              || printf('%02d', id % 28 + 1) || 'T00:00:00","cpu":'
              || printf('%.1f', CAST(id % 100 AS DOUBLE) + 0.5)
              || ',"memory":68.3,"disk":56.2,'
              || '"network":{"in":1024,"out":2048}}'
            ELSE '{"timestamp":"2024-01-'
              || printf('%02d', id % 28 + 1)
              || 'T00:00:00","sample":true,"value":12345,'
              || '"message":"This is sample data of type: generic"}'
          END AS body FROM ids)
        SELECT dataType, count(*) AS n,
          CAST(sum(octet_length(encode('{"data":"'
            || replace(body, '"', chr(92) || '"') || '"}'))) AS BIGINT)
            AS total_size,
          count(DISTINCT id) AS locations,
          true AS layout_ok
        FROM b GROUP BY dataType ORDER BY dataType"""),
      kind = QueryDef.Pipeline),

    // ---- J1/S6: point lookup + metadata⋈content join ------------------------
    QueryDef("q35_content_join",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
        val content = Tables.load(s, dir, "documents")
          .select(lpad(col("doc_id").cast("string"), 6, "0").as("id"),
            col("text"))
        QueryService.run(s, meta, content, QueryService.ContentById("000042"))
          .select(col("id"), col("data_type"), col("size_bytes"),
            length(col("text")).cast("long").as("text_len"))
          .orderBy("id")
      },
      Some(s"""WITH meta AS ($metaSql)
        SELECT id, data_type, size_bytes,
          CAST(length(text) AS BIGINT) AS text_len
        FROM meta JOIN (SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id,
          text FROM documents) c USING (id)
        WHERE id = '000042' ORDER BY id""")),

    // ---- K5/T4: bulk index build with positional _id --------------------------
    QueryDef("q36_bulk_index",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Search.bulkIndex(docs, "doc_id")
          .select(col("_id"), col("doc_id"),
            Search.normalizeIndexName(
              concat_ws("-", col("source"), col("lang"), lit("DEV")))
              .as("idx"))
          .orderBy("_id")
      },
      Some("""SELECT row_number() OVER (ORDER BY doc_id) AS _id, doc_id,
        lower(replace(source || '-' || lang || '-DEV', '-', '_')) AS idx
        FROM documents ORDER BY _id""")),

    // ---- K8/J4: semi-join-driven catalog update --------------------------------
    QueryDef("q37_catalog_update",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
          .withColumn("indexed", lit(false))
          .withColumn("indexedAt", lit(null).cast("timestamp"))
          .withColumnRenamed("meta_ts", "timestamp")
        val toMark = Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(lpad(col("doc_id").cast("string"), 6, "0").as("id"))
        Catalog.markIndexed(meta, toMark, "id",
            java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
          .groupBy("indexed")
          .agg(count(lit(1)).as("n"), min("indexedAt").as("min_indexed_at"))
          .orderBy("indexed")
      },
      Some("""SELECT (doc_id % 5 = 0) AS indexed, count(*) AS n,
        min(CASE WHEN doc_id % 5 = 0 THEN TIMESTAMP '2024-06-01 00:00:00'
            END) AS min_indexed_at
        FROM documents GROUP BY 1 ORDER BY indexed""")),

    // ---- P12: tagged AttributeValue type-coercion suite -------------------------
    // Literal fixture (no table input): every tag of the reference's
    // DynamoDB-JSON decoder — S/N/BOOL/NULL/SS/NS/BS plus recursive L/M —
    // decoded twice: typed columns AND a canonical-JSON rendering. The
    // oracle is the expected output spelled as literal VALUES.
    QueryDef("q54_attr_decode",
      (s, dir) => {
        import s.implicits._
        val items = Seq(
          (1L, """{"name":{"S":"alpha"},"size":{"N":"42"},"flag":{"BOOL":true},"missing":{"NULL":true},"tags":{"SS":["b","a","b"]},"nums":{"NS":["3","1","2.5"]},"blobs":{"BS":["aGk=","YWJj"]}}"""),
          (2L, """{"name":{"S":"beta"},"nested":{"M":{"a":{"N":"1"},"l":{"L":[{"S":"x"},{"N":"2"},{"BOOL":false}]}}}}"""),
          (3L, """{"deep":{"M":{"m2":{"M":{"m3":{"M":{"too":{"S":"deep"}}}}}}}}"""))
          .toDF("item_id", "raw")
        val parsed = AttributeValues.parseItem(col("raw"), depth = 3)
        items.select(col("item_id"),
            AttributeValues.str(parsed.getItem("name")).as("name"),
            AttributeValues.num(parsed.getItem("size")).as("size"),
            AttributeValues.bool(parsed.getItem("flag")).as("flag"),
            concat_ws(",", AttributeValues.strSet(parsed.getItem("tags")))
              .as("tags"),
            concat_ws(",",
              transform(AttributeValues.numSet(parsed.getItem("nums")),
                _.cast("string"))).as("nums"),
            concat_ws(",", AttributeValues.binSet(parsed.getItem("blobs")))
              .as("blobs"),
            AttributeValues.itemToJson(parsed, 3).as("json"))
          .orderBy("item_id")
      },
      Some("""SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'alpha', CAST(42.0 AS DOUBLE), true, 'a,b',
         '1.0,2.5,3.0', '616263,6869',
         '{"blobs":["616263","6869"],"flag":true,"missing":null,"name":"alpha","nums":[1.0,2.5,3.0],"size":42.0,"tags":["a","b"]}'),
        (CAST(2 AS BIGINT), 'beta', CAST(NULL AS DOUBLE),
         CAST(NULL AS BOOLEAN), '', '', '',
         '{"name":"beta","nested":{"a":1.0,"l":["x",2.0,false]}}'),
        (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
         CAST(NULL AS BOOLEAN), '', '', '',
         '{"deep":{"m2":{"m3":{"too":"deep"}}}}'))
        t(item_id, name, size, flag, tags, nums, blobs, json)
        ORDER BY item_id""")),

    // ---- J3: left-outer enrich with metadata-miss fallback ------------------------
    QueryDef("q55_enrich_fallback",
      (s, dir) => {
        val content = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 120)
          .select(lpad(col("doc_id").cast("string"), 6, "0").as("id"),
            col("n_chars"))
        val meta = metaFromDocs(s, dir)
          .filter(col("id") < "000100")
          .select(col("id"), col("s3Location"))
        QueryService.enrichWithMetadata(content, meta,
            id => concat(lit("lake://raw/docs/stub/"), id))
          .select(col("id"), col("s3Location"))
          .orderBy("id")
      },
      Some(s"""WITH meta AS ($metaSql)
        SELECT d.id, coalesce(m.s3Location, 'lake://raw/docs/stub/' || d.id)
          AS s3Location
        FROM (SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id
              FROM documents WHERE doc_id < 120) d
        LEFT JOIN (SELECT id, s3Location FROM meta WHERE id < '000100') m
          ON d.id = m.id
        ORDER BY d.id""")),

    // ---- S5/P14: raw JSON text fetch + explicit from_json parse -------------------
    QueryDef("q56_json_text_parse",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_jsontext")
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars", "text")
        docs.write.mode("overwrite").json(s"$root/docs")
        Lake.readJsonText(s, s"$root/docs", docs.schema)
          .select(col("doc.lang").as("lang"),
            col("doc.n_chars").as("n_chars"),
            length(col("raw")).cast("long").as("raw_len"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
            sum("raw_len").as("raw_bytes"))
          .orderBy("lang")
      },
      // The oracle rebuilds the exact NDJSON line Spark writes
      // (schema-ordered fields, ASCII-safe text — verified fixture).
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(length('{"doc_id":' || doc_id || ',"lang":"' || lang ||
            '","n_chars":' || n_chars || ',"text":"' || text || '"}'))
            AS BIGINT) AS raw_bytes
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- P13/A3/T3: index-document assembly + size metric --------------------------
    QueryDef("q57_index_doc",
      (s, dir) => {
        val meta = metaFromDocs(s, dir)
        val content = Tables.load(s, dir, "documents")
          .select(lpad(col("doc_id").cast("string"), 6, "0").as("id"),
            col("text"))
        val doc = Search.buildIndexDoc(
          struct(col("id"), col("data_type").as("dataType"), col("source"),
            col("s3Location"), col("size_bytes")),
          struct(col("text")),
          at = "2024-06-01T00:00:00")
        meta.join(content, Seq("id"))
          .filter(col("id") < "000020")
          .select(col("id"),
            Search.indexNameFor(col("data_type")).as("index_name"),
            to_json(doc).as("doc_json"),
            Search.docSizeBytes(doc).as("doc_bytes"))
          .orderBy("id")
      },
      Some(s"""WITH meta AS ($metaSql),
        built AS (
          SELECT m.id, 'data-' || m.data_type AS index_name,
            '{"metadata":{"id":"' || m.id || '","dataType":"' ||
              m.data_type || '","source":"' || m.source ||
              '","s3Location":"' || m.s3Location || '","size_bytes":' ||
              m.size_bytes || '},"content":{"text":"' || d.text ||
              '"},"indexed_at":"2024-06-01T00:00:00"}' AS doc_json
          FROM meta m JOIN (SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0')
            AS id, text FROM documents) d ON m.id = d.id
          WHERE m.id < '000020')
        SELECT id, index_name, doc_json,
          CAST(length(doc_json) AS BIGINT) AS doc_bytes
        FROM built ORDER BY id""")),

    // ---- R6: session windows (batch semantics of session_window) -------------------
    QueryDef("q58_session_windows",
      (s, dir) => graft.streaming.IngestStream.sessionWindowCounts(
          Tables.eventsWithTime(s, dir), "event_time", "event_type",
          gap = "5 minutes", watermark = None)
        .orderBy("event_type", "session_start"),
      // Classic SQL sessionization: a new session starts when the gap to
      // the previous event is >= 5 min (Spark merges strictly-within-gap
      // events); session end = last event + gap.
      Some("""WITH e AS (
          SELECT event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        m AS (SELECT event_type, t,
            CASE WHEN lag(t) OVER (PARTITION BY event_type ORDER BY t)
                   IS NULL
                 OR t - lag(t) OVER (PARTITION BY event_type ORDER BY t)
                   >= INTERVAL 5 MINUTE
                 THEN 1 ELSE 0 END AS new_s
          FROM e),
        g AS (SELECT event_type, t,
            sum(new_s) OVER (PARTITION BY event_type ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
        SELECT event_type, min(t) AS session_start,
          max(t) + INTERVAL 5 MINUTE AS session_end, count(*) AS n
        FROM g GROUP BY event_type, sid
        ORDER BY event_type, session_start""")),

    // ---- S11+A6: SQL dispatch over a persistently-registered table ------------------
    // The reference's Athena path: register the parquet location as a
    // catalog table (Glue-crawler role), then dispatch raw ANSI SQL
    // through the query service.
    QueryDef("q61_sql_dispatch",
      (s, dir) => {
        Catalog.registerPersistent(s, "graft_part", s"$dir/part.parquet")
        val empty = s.emptyDataFrame
        QueryService.run(s, empty, empty, QueryService.Sql(
          """SELECT p_brand, count(*) AS n,
               CAST(round(sum(CAST(p_retailprice AS DECIMAL(25,6))), 2)
                 AS DOUBLE) AS total_price
             FROM graft_part
             WHERE p_size >= 20
             GROUP BY p_brand ORDER BY p_brand"""))
      },
      Some("""SELECT p_brand, count(*) AS n,
          CAST(round(sum(CAST(p_retailprice AS DECIMAL(25,6))), 2)
            AS DOUBLE) AS total_price
        FROM part WHERE p_size >= 20
        GROUP BY p_brand ORDER BY p_brand""")),

    // ---- Layout: zone-mapped write + pruned range read ------------------
    // Range-bucketed parquet + per-file min/max stats table; the read
    // opens only the files whose envelope intersects the predicate
    // (LakeSpec asserts the file-count reduction) — result must equal
    // the plain full-scan filter, which is exactly what the oracle runs.
    QueryDef("q99_zonemap_prune",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_zm") + "/li"
        val li = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_linenumber")
        graft.sources.Layout.writeZoneMapped(li, root, "l_orderkey", 16)
        graft.sources.Layout.prunedRead(s, root, "l_orderkey", 1000L, 5000L)
          .agg(count(lit(1)).as("n"),
            sum("l_quantity").cast("double").as("qty"),
            countDistinct("l_orderkey").as("orders"))
      },
      Some("""SELECT count(*) AS n,
          CAST(sum(l_quantity) AS DOUBLE) AS qty,
          count(DISTINCT l_orderkey) AS orders
        FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 5000"""),
      kind = QueryDef.Pipeline),

    // ---- J6/K6 at file level: copy-on-write partition MERGE -------------
    // Target table partitioned by lang; updates = bump n_chars on
    // doc_id%7 rows (same key, same partition) + insert doc_id%11 rows
    // re-keyed out of id range under source='merged'. mergeInto rewrites
    // ONLY touched lang partitions (SearchCatalogSpec asserts untouched
    // files stay byte-identical); the oracle replays the same
    // anti-join+union in SQL over the source table.
    QueryDef("q107_merge_upsert",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_merge") + "/docs"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        docs.write.partitionBy("lang").parquet(root)
        val upd = docs.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + 1000)
        val ins = docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("source", lit("merged"))
        Catalog.mergeInto(s, root, upd.unionByName(ins), "doc_id", "lang")
        s.read.parquet(root)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
            min("doc_id").as("first_id"), max("doc_id").as("last_id"))
          .orderBy("lang", "source")
      },
      Some("""WITH base AS (
          SELECT doc_id, lang, source, n_chars FROM documents),
        u AS (
          SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
          FROM base WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 10000000, lang, 'merged', n_chars
          FROM base WHERE doc_id % 11 = 0),
        final AS (
          SELECT * FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM u)
          UNION ALL SELECT * FROM u)
        SELECT lang, source, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          min(doc_id) AS first_id, max(doc_id) AS last_id
        FROM final GROUP BY lang, source ORDER BY lang, source"""),
      kind = QueryDef.Pipeline),

    // ---- S9/R5: CDC reindex, batch-replayed under the DuckDB oracle -----
    // The REAL streaming path (file-source discovery → foreachBatch
    // idempotent reindex → LWW current-index read) run to completion
    // with Trigger.AvailableNow over a deterministic 3-wave change log
    // (every doc v1 'ingested'; every 3rd v2 'processed'; every 9th v3
    // 'indexed'). Versions are unique per id, so the result is
    // batch-boundary-independent and the oracle can replay the same
    // last-writer-wins choice with a row_number window over the log.
    QueryDef("q108_cdc_replay",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_cdc")
        val metaDir = s"$root/meta"
        val docs = Tables.load(s, dir, "documents")
        def wave(pred: org.apache.spark.sql.Column, version: Int,
                 status: String, bump: Int) =
          docs.filter(pred).select(
            lpad(col("doc_id").cast("string"), 6, "0").as("id"),
            lit(version).as("version"),
            lit(status).as("status"),
            (col("n_chars") + bump).cast("long").as("size_bytes"))
        wave(lit(true), 1, "ingested", 0)
          .write.mode("append").parquet(metaDir)
        wave(col("doc_id") % 3 === 0, 2, "processed", 10)
          .write.mode("append").parquet(metaDir)
        wave(col("doc_id") % 9 === 0, 3, "indexed", 20)
          .write.mode("append").parquet(metaDir)
        val schema = s.read.parquet(metaDir).schema
        CdcStream.startReindex(s, metaDir, schema, s"$root/index",
          s"$root/ckpt", "id", "version").awaitTermination()
        CdcStream.currentIndex(s, s"$root/index", "id", "version")
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum("size_bytes").as("bytes"),
            min("id").as("first_id"), max("id").as("last_id"))
          .orderBy("status")
      },
      Some("""WITH log AS (
          SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id,
            1 AS version, 'ingested' AS status,
            CAST(n_chars AS BIGINT) AS size_bytes
          FROM documents
          UNION ALL
          SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0'), 2, 'processed',
            CAST(n_chars + 10 AS BIGINT)
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0'), 3, 'indexed',
            CAST(n_chars + 20 AS BIGINT)
          FROM documents WHERE doc_id % 9 = 0),
        cur AS (SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY version DESC) AS rn FROM log)
          WHERE rn = 1)
        SELECT status, count(*) AS n,
          CAST(sum(size_bytes) AS BIGINT) AS bytes,
          min(id) AS first_id, max(id) AS last_id
        FROM cur GROUP BY status ORDER BY status"""),
      kind = QueryDef.Pipeline),

    // ---- Manifest layer: versioned snapshots + time travel --------------
    // Three commits (init evens → append odds → copy-on-write MERGE
    // bumping every 5th doc), then TIME TRAVEL reads of all three
    // versions — each version's aggregate must equal the oracle's
    // recompute of that state from the source table. Proves commits are
    // whole-snapshot atomic and historical versions stay readable
    // after later commits (the property dynamic partition overwrite
    // cannot give).
    QueryDef("q109_manifest_snapshot",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_manifest") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        Manifest.mergeInto(s, root,
          docs.filter(col("doc_id") % 5 === 0)
            .withColumn("n_chars", col("n_chars") + 1000),
          "doc_id", "lang")
        Seq(1L, 2L, 3L).map { v =>
          Manifest.read(s, root, Some(v))
            .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
              sum("doc_id").as("id_sum"))
            .withColumn("version", lit(v))
        }.reduce(_.unionByName(_))
          .select("version", "n", "chars", "id_sum")
          .orderBy("version")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(sum(n_chars) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(sum(n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000
            ELSE 0 END) AS BIGINT),
          CAST(sum(doc_id) AS BIGINT)
        FROM documents
        ORDER BY version"""),
      kind = QueryDef.Pipeline),

    // ---- R1+R4: streamed ingest dedup, batch-replayed under the oracle --
    // The real R1/R4 path (file-source discovery → watermarked
    // dropDuplicatesWithinWatermark → idempotent batch_id-partition
    // sink) drained with AvailableNow over two overlapping event waves
    // (ids %3∈{0,1} and %3∈{1,2} — every %3==1 id arrives twice, as
    // IDENTICAL rows, so the dedup survivor is unique and the oracle
    // can replay it as DISTINCT). The watermark delay is set far past
    // the event-time span so no row is ever late-dropped or
    // state-evicted — the result is batch-boundary-independent.
    QueryDef("q110_stream_dedup_replay",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_sdr")
        val ev = graft.Tables.eventsWithTime(s, dir)
          .select(col("event_id"), col("event_time"),
            col("event_type"), col("user_id"))
        ev.filter(col("event_id") % 3 < 2)
          .write.mode("append").parquet(s"$root/raw")
        ev.filter(col("event_id") % 3 > 0)
          .write.mode("append").parquet(s"$root/raw")
        val schema = s.read.parquet(s"$root/raw").schema
        val deduped = IngestStream.dedupStream(
          IngestStream.rawStream(s, s"$root/raw", schema, "parquet"),
          "event_time", "event_id", "36500 days")
        deduped.writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              b.write.mode("overwrite")
                .parquet(s"$root/index/batch_id=$id")
              ()
          }
          .start().awaitTermination()
        s.read.parquet(s"$root/index")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("event_id").as("ids"),
            max("user_id").as("max_user"),
            min("event_id").as("first_id"))
          .orderBy("event_type")
      },
      Some("""WITH src AS (
          SELECT event_id, event_type, user_id FROM events
          WHERE event_id % 3 < 2
          UNION ALL
          SELECT event_id, event_type, user_id FROM events
          WHERE event_id % 3 > 0),
        d AS (SELECT DISTINCT event_id, event_type, user_id FROM src)
        SELECT event_type, count(*) AS n,
          count(DISTINCT event_id) AS ids,
          max(user_id) AS max_user, min(event_id) AS first_id
        FROM d GROUP BY event_type ORDER BY event_type"""),
      kind = QueryDef.Pipeline),

    // ---- R2+Manifest: EXACTLY-ONCE native streaming table sink ----------
    // No foreachBatch indirection: `writeStream.format("graft-manifest")`
    // IS the transactional sink — executors stage each epoch's parquet
    // files, the driver publishes them as one atomic manifest version
    // carrying the (queryId, epochId) high-water mark, so replays no-op
    // (ManifestStreamSpec proves the replay path). The full event table
    // streams in via file-source discovery and lands in a manifest
    // table whose latest snapshot must equal the plain batch view of
    // the source — independent of how AvailableNow splits the
    // micro-batches, since every commit is additive and atomic.
    QueryDef("q111_stream_manifest_sink",
      (s, dir) => {
        val root0 = graft.TempRoots.create("graft_sms")
        val table = "file://" + root0 + "/t"
        val ev = graft.Tables.eventsWithTime(s, dir)
          .select(col("event_id"), col("event_time"),
            col("event_type"), col("value"))
        ev.filter(col("event_id") % 2 === 0)
          .write.mode("append").parquet(s"$root0/raw")
        ev.filter(col("event_id") % 2 === 1)
          .write.mode("append").parquet(s"$root0/raw")
        val schema = s.read.parquet(s"$root0/raw").schema
        // CREATE the sink table (schema header), then stream into it
        Manifest.init(s, table, s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
        IngestStream.rawStream(s, s"$root0/raw", schema, "parquet")
          .writeStream.format("graft-manifest")
          .option("checkpointLocation", s"$root0/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(table).awaitTermination()
        Manifest.read(s, table, None)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("event_id").as("ids"),
            max("event_id").as("last_id"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
          count(DISTINCT event_id) AS ids, max(event_id) AS last_id
        FROM events GROUP BY event_type ORDER BY event_type"""),
      kind = QueryDef.Pipeline),

    // ---- Manifest DML DELETE: copy-on-write, time-travel-checked --------
    // Delete every doc_id%7 row; latest snapshot must equal the
    // filtered recompute AND version 1 must still contain the deleted
    // rows (the GDPR-erasure-with-audit-window shape: delete is a new
    // snapshot, history stays readable until vacuum).
    QueryDef("q112_manifest_delete",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_mdel") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        Manifest.init(s, root, docs, Seq("lang"))
        Manifest.deleteWhere(s, root, col("doc_id") % 7 === 0, "lang")
        Seq(1L, 2L).map { v =>
          Manifest.read(s, root, Some(v))
            .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
              sum("doc_id").as("id_sum"))
            .withColumn("version", lit(v))
        }.reduce(_.unionByName(_))
          .select("version", "n", "chars", "id_sum")
          .orderBy("version")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
          CAST(sum(n_chars) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
        FROM documents WHERE doc_id % 7 <> 0
        ORDER BY version"""),
      kind = QueryDef.Pipeline),

    // ---- DataSourceV2 connector over the manifest table -----------------
    // The full V2 read contract end-to-end: a two-commit manifest table
    // (partitioned by lang) read back through format("graft-manifest")
    // with a partition filter (consumed at the manifest — files of
    // other langs are never planned), a data filter (pushed to parquet
    // row groups AND kept residual) and a pruned projection. The oracle
    // replays the same relational result straight off the source table,
    // so a connector bug anywhere (partition parsing, projection
    // indexes, filter translation, schema evolution NULLs) flips the
    // hash. ManifestConnectorSpec asserts the pruning/pushdown plans.
    QueryDef("q115_manifest_connector",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_dsv2") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "text", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        s.read.format("graft-manifest").load(root)
          .filter(col("lang").isin("de", "en") &&
            col("n_chars") >= 500L)
          .select(col("lang"), col("doc_id"), col("n_chars"),
            length(col("text")).as("len"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars"),
            sum("len").as("text_len"),
            min("doc_id").as("first_id"), max("doc_id").as("last_id"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(length(text)) AS BIGINT) AS text_len,
          min(doc_id) AS first_id, max(doc_id) AS last_id
        FROM documents
        WHERE lang IN ('de', 'en') AND n_chars >= 500
        GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Manifest change feed: incremental reads between versions -------
    // Three commits: init evens → append odds → CoW merge confined to
    // lang='de'. The incremental consumer reads changes(1→2) (exactly
    // the appended odd rows) and changes(2→3) (the post-image of the
    // rewritten files — every de file holds a doc_id % 5 = 0 row, so
    // that is the whole de partition; untouched langs carry files by
    // reference and must NOT appear). The oracle replays both diffs
    // relationally; any leak of carried-over files into the feed, or
    // rows missing from a rewritten file, flips counts and sums.
    QueryDef("q116_manifest_changes",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_cdf") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        Manifest.mergeInto(s, root,
          docs.filter(col("lang") === "de" && col("doc_id") % 5 === 0)
            .withColumn("n_chars", col("n_chars") + 1000),
          "doc_id", "lang")
        Seq((1L, 2L), (2L, 3L)).map { case (from, to) =>
          Manifest.readChanges(s, root, from, Some(to))
            .agg(count(lit(1)).as("n"),
              countDistinct("lang").as("langs"),
              sum("n_chars").as("chars"), sum("doc_id").as("id_sum"))
            .withColumn("step", lit(s"v$from..v$to"))
        }.reduce(_.unionByName(_))
          .select("step", "n", "langs", "chars", "id_sum")
          .orderBy("step")
      },
      Some("""WITH odd AS (
          SELECT * FROM documents WHERE doc_id % 2 = 1),
        de AS (
          SELECT doc_id, lang,
            n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END
              AS n_chars
          FROM documents WHERE lang = 'de')
        SELECT 'v1..v2' AS step, count(*) AS n,
          count(DISTINCT lang) AS langs,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM odd
        UNION ALL
        SELECT 'v2..v3', count(*), count(DISTINCT lang),
          CAST(sum(n_chars) AS BIGINT), CAST(sum(doc_id) AS BIGINT)
        FROM de
        ORDER BY step"""),
      kind = QueryDef.Pipeline),

    // ---- SQL catalog: CREATE/INSERT/time-travel through spark.sql -------
    // The whole lifecycle runs as PURE SQL against the ManifestCatalog
    // plugin (the versioned analog of the reference's Glue-registered
    // tables): CREATE a partitioned table, two INSERT INTO commits, a
    // grouped read of latest, and a `VERSION AS OF` scalar pinning the
    // first commit's row count. The oracle replays the same relational
    // content from the source parquet — a write-path loss, a time-travel
    // off-by-one, or a partition-column type drift all flip the row.
    QueryDef("q118_sql_catalog",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        // the catalog instance is cached per session, so the warehouse
        // root must be stable across reruns; table contents are rebuilt
        // from scratch each run (DROP + CREATE)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q118_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.docs")
        s.sql("CREATE TABLE graftsql.db.docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.docs " +
          "SELECT doc_id, lang, n_chars FROM q118_docs WHERE doc_id % 2 = 0")
        s.sql("INSERT INTO graftsql.db.docs " +
          "SELECT doc_id, lang, n_chars FROM q118_docs WHERE doc_id % 2 = 1")
        // v1 = empty create, v2 = evens, v3 (latest) = all
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.docs VERSION AS OF 2)
              AS evens
          FROM graftsql.db.docs GROUP BY lang ORDER BY lang""")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS evens
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Manifest compaction: OPTIMIZE preserves content ----------------
    // Three small commits then a bin-packing compact (victims chosen
    // from manifest-recorded sizes — zero filesystem calls). The oracle
    // pins that the compacted table is relationally IDENTICAL to the
    // source, and the fewer_files bit (computed from the two manifests'
    // file counts in Spark, `true` in DuckDB) pins that compaction
    // actually packed. A lost row, a duplicated row, or a no-op
    // compaction all flip the row.
    QueryDef("q119_manifest_compact",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_compact") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 3 === 0), Seq("lang"))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 3 === 1), Seq("lang"))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 3 === 2), Seq("lang"))
        val filesBefore = Manifest.snapshot(s, root, 3L).files.size
        val v = Manifest.compact(s, root,
          smallBytes = 1L << 30, targetBytes = 1L << 30)
        val filesAfter = Manifest.snapshot(s, root, v).files.size
        Manifest.read(s, root, None)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
            min("doc_id").as("first_id"))
          .withColumn("fewer_files", lit(filesAfter < filesBefore))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          min(doc_id) AS first_id, true AS fewer_files
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Manifest table as a STREAMING SOURCE ----------------------------
    // Two AvailableNow runs over one checkpoint: run 1 replays the
    // initial snapshot (evens), a commit lands while the stream is
    // down, run 2 consumes exactly that delta (odds). The oracle
    // recomputes both runs' content relationally — a replayed row, a
    // missed commit, or an offset off-by-one flips a step's counts.
    QueryDef("q120_manifest_stream_source",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_msrc")
        val root = s"$base/t"
        val sink = s"$base/sink"
        val ckpt = s"$base/ckpt"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))
        def runOnce(run: String): Unit = {
          val q = s.readStream.format("graft-manifest").load(root)
            .writeStream
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.withColumn("run", lit(run))
                  .write.mode("append").parquet(sink); ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce("run1") // snapshot replay: the even half
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        runOnce("run2") // checkpoint restart: exactly the odd delta
        s.read.parquet(sink).groupBy("run")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
            countDistinct("lang").as("langs"))
          .orderBy("run")
      },
      Some("""SELECT 'run1' AS run, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          count(DISTINCT lang) AS langs
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'run2', count(*), CAST(sum(n_chars) AS BIGINT),
          count(DISTINCT lang)
        FROM documents WHERE doc_id % 2 = 1
        ORDER BY run"""),
      kind = QueryDef.Pipeline),

    // ---- SQL DELETE FROM on a manifest table ----------------------------
    // `DELETE FROM` plans the SAME row-level rewrite as the Scala
    // deleteWhere (untouched files carry by reference). Two deletes —
    // a data-column predicate (CoW rewrite of every file holding
    // matches) and a partition-column predicate (whole-partition
    // drop) — then a grouped read of latest plus a `VERSION AS OF`
    // scalar proving the pre-delete snapshot still holds every row
    // (erase-with-audit-window, as in q112, but through pure SQL).
    QueryDef("q122_sql_delete",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q122_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.del_docs")
        s.sql("CREATE TABLE graftsql.db.del_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.del_docs " +
          "SELECT doc_id, lang, n_chars FROM q122_docs")
        // v1 = create, v2 = insert, v3 = CoW delete, v4 = partition drop
        s.sql("DELETE FROM graftsql.db.del_docs WHERE doc_id % 7 = 0")
        s.sql("DELETE FROM graftsql.db.del_docs WHERE lang = 'fr'")
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.del_docs VERSION AS OF 2)
              AS before_n
          FROM graftsql.db.del_docs GROUP BY lang ORDER BY lang""")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          (SELECT count(*) FROM documents) AS before_n
        FROM documents
        WHERE doc_id % 7 <> 0 AND lang <> 'fr'
        GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- SQL MERGE INTO + UPDATE on a manifest table --------------------
    // The full row-level-operation surface through pure SQL: a MERGE
    // (update-matched + insert-unmatched, Spark's group-based
    // ReplaceData rewrite over the connector's CoW scan/write) followed
    // by an UPDATE, with a `VERSION AS OF` scalar proving the pre-merge
    // snapshot still holds the original rows. The oracle replays both
    // statements relationally — a lost carry-over row, a double-applied
    // assignment, or a rewrite that touched the wrong groups all flip
    // the per-lang sums.
    QueryDef("q123_sql_merge",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q123_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.mrg_docs")
        s.sql("CREATE TABLE graftsql.db.mrg_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.mrg_docs " +
          "SELECT doc_id, lang, n_chars FROM q123_docs")
        s.sql("""SELECT doc_id, lang,
            CAST(n_chars + 1000 AS BIGINT) AS n_chars
          FROM q123_docs WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 100000, lang, CAST(42 AS BIGINT)
          FROM q123_docs WHERE doc_id % 25 = 0""")
          .createOrReplaceTempView("q123_src")
        // v1 create, v2 insert, v3 merge, v4 update
        s.sql("""MERGE INTO graftsql.db.mrg_docs t USING q123_src s
          ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        s.sql("UPDATE graftsql.db.mrg_docs " +
          "SET n_chars = n_chars + 7 WHERE lang = 'de'")
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.mrg_docs VERSION AS OF 2)
              AS before_n
          FROM graftsql.db.mrg_docs GROUP BY lang ORDER BY lang""")
      },
      Some("""WITH merged AS (
          SELECT doc_id, lang,
            CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
                 ELSE n_chars END AS n_chars
          FROM documents
          UNION ALL
          SELECT doc_id + 100000, lang, 42 FROM documents
          WHERE doc_id % 25 = 0),
        upd AS (
          SELECT doc_id, lang,
            CASE WHEN lang = 'de' THEN n_chars + 7
                 ELSE n_chars END AS n_chars
          FROM merged)
        SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          (SELECT count(*) FROM documents) AS before_n
        FROM upd GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Fully-native incremental pipeline: source → transform → sink ---
    // bronze→silver with ZERO driver indirection: the manifest table is
    // both the streaming SOURCE (versions as offsets, q120) and the
    // native SINK (executor-staged files, exactly-once epoch commits).
    // Run 1 replays the bronze snapshot through a projection into
    // silver; a commit lands while the stream is down; run 2 consumes
    // exactly that delta over the same checkpoint. The oracle replays
    // the whole pipeline relationally — a replayed epoch, a lost
    // micro-batch, or a hive-layout/typing bug in the executor writer
    // flips counts or sums.
    QueryDef("q124_stream_native_pipeline",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_npipe")
        val bronze = s"$base/bronze"
        val silver = s"$base/silver"
        val ckpt = s"$base/ckpt"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
        Manifest.init(s, bronze,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))
        val silverSchema = docs
          .withColumn("n2", (col("n_chars") * 2).cast("long")).schema
        Manifest.init(s, silver, s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          silverSchema), Seq("lang"))
        def runOnce(): Unit =
          s.readStream.format("graft-manifest").load(bronze)
            .withColumn("n2", (col("n_chars") * 2).cast("long"))
            .writeStream.format("graft-manifest")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(silver).awaitTermination()
        runOnce() // epoch 0: the even half
        Manifest.commitAppend(s, bronze,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        runOnce() // checkpoint restart: exactly the odd delta
        Manifest.read(s, silver, None)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            countDistinct("doc_id").as("ids"),
            sum("n_chars").as("chars"), sum("n2").as("doubled"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
          count(DISTINCT doc_id) AS ids,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          CAST(sum(n_chars * 2) AS BIGINT) AS doubled
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- SQL schema evolution: ALTER TABLE ADD COLUMN mid-lifecycle -----
    // A metadata-only commit widens the schema between two inserts: rows
    // written BEFORE the ALTER read the new column back NULL, rows after
    // fill it, and a `VERSION AS OF` scalar pins the pre-ALTER snapshot.
    // count(n_chars) vs count(*) splits the two populations — a widened
    // header that rewrote data, a NULL-fill bug, or an ALTER that broke
    // time travel all flip the row.
    QueryDef("q125_sql_evolve",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q125_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.evo_docs")
        s.sql("CREATE TABLE graftsql.db.evo_docs " +
          "(doc_id BIGINT, lang STRING) PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.evo_docs " +
          "SELECT doc_id, lang FROM q125_docs WHERE doc_id % 2 = 0")
        // v1 create, v2 narrow insert, v3 ALTER (zero data IO), v4 insert
        s.sql("ALTER TABLE graftsql.db.evo_docs ADD COLUMN n_chars BIGINT")
        s.sql("INSERT INTO graftsql.db.evo_docs " +
          "SELECT doc_id, lang, n_chars FROM q125_docs WHERE doc_id % 2 = 1")
        s.sql("""SELECT lang, count(*) AS n,
            count(n_chars) AS filled,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.evo_docs VERSION AS OF 2)
              AS before_n
          FROM graftsql.db.evo_docs GROUP BY lang ORDER BY lang""")
      },
      Some("""SELECT lang, count(*) AS n,
          count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS filled,
          CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
            AS chars,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS before_n
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Timestamp time travel: TIMESTAMP AS OF through SQL -------------
    // Every commit stamps its wall-clock into the manifest header;
    // `TIMESTAMP AS OF` resolves to the newest snapshot committed at or
    // before the given time (commit clocks are non-decreasing, so the
    // resolution scans O(1) recent manifests). The query pins the
    // mid-lifecycle commit's timestamp, forces the next commit's clock
    // strictly past it, and reads both "now" and "then" — a wrong
    // resolution boundary (< vs <=), a millis/micros slip, or a header
    // that lost the stamp all flip the scalar.
    QueryDef("q126_time_travel_ts",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q126_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.tt_docs")
        s.sql("CREATE TABLE graftsql.db.tt_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.tt_docs " +
          "SELECT doc_id, lang, n_chars FROM q126_docs WHERE doc_id % 2 = 0")
        val root = s.conf.get("spark.sql.catalog.graftsql.root")
          .stripSuffix("/") + "/db/tt_docs"
        val ts2 = Manifest.snapshotMeta(s, root, 2L).ts.get
        // make v3's commit clock strictly later than v2's so the
        // TIMESTAMP AS OF boundary is deterministic
        while (System.currentTimeMillis() <= ts2) Thread.sleep(1)
        s.sql("INSERT INTO graftsql.db.tt_docs " +
          "SELECT doc_id, lang, n_chars FROM q126_docs WHERE doc_id % 2 = 1")
        s.sql(s"""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.tt_docs
               TIMESTAMP AS OF timestamp_millis($ts2)) AS before_n
          FROM graftsql.db.tt_docs GROUP BY lang ORDER BY lang""")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS before_n
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Merge-on-read DELETE: O(keys), zero data rewrite --------------
    // `deleteByKeys` commits the key set as a delete file; NO data file
    // is rewritten (the `no_rewrite` bit pins v2's file list == v1's —
    // at 100 TB that is the whole point: DELETE costs O(deleted keys),
    // not O(partitions containing matches)). The read is through the
    // CONNECTOR, whose executors load the key set once per task and
    // drop rows as they stream. A post-delete append reinserts a
    // subset of the deleted keys — file sequence numbers exempt rows
    // newer than the delete, so they must survive. The oracle replays
    // survivors ∪ reinserts relationally; a resurrect, a retro-delete
    // of the reinserts, or a delete that leaked into the carried files
    // all flip the per-lang aggregates.
    QueryDef("q127_mor_delete",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_mor") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root, docs, Seq("lang"))
        Manifest.deleteByKeys(s, root,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
        val noRewrite =
          Manifest.snapshot(s, root, 2L).files.toSet ==
            Manifest.snapshot(s, root, 1L).files.toSet
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 21 === 0)
            .withColumn("n_chars", (col("n_chars") + 5000).cast("long")),
          Seq("lang"))
        s.read.format("graft-manifest").load(root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars"))
          .withColumn("no_rewrite", lit(noRewrite))
          .orderBy("lang")
      },
      Some("""WITH surv AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 7 <> 0
          UNION ALL
          SELECT lang, n_chars + 5000 FROM documents WHERE doc_id % 21 = 0)
        SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          TRUE AS no_rewrite
        FROM surv GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- SQL DELETE routed merge-on-read --------------------------------
    // With delete.mode=merge-on-read, a keyed SQL DELETE (`IN` list)
    // commits the keys straight off the predicate as a delete file —
    // no scan, no data rewrite (the `no_rewrite` bit pins the file
    // list). The same table then reads correctly through pure SQL.
    QueryDef("q128_sql_mor_delete",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q128_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.mor_docs")
        s.sql("CREATE TABLE graftsql.db.mor_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.mor_docs " +
          "SELECT doc_id, lang, n_chars FROM q128_docs")
        val root = s.conf.get("spark.sql.catalog.graftsql.root")
          .stripSuffix("/") + "/db/mor_docs"
        val before = Manifest.snapshot(s, root, 2L).files.toSet
        s.conf.set("spark.graft.manifest.delete.mode", "merge-on-read")
        try s.sql("DELETE FROM graftsql.db.mor_docs WHERE doc_id IN (" +
          (1L to 50L).mkString(", ") + ")")
        finally s.conf.unset("spark.graft.manifest.delete.mode")
        val noRewrite =
          Manifest.snapshot(s, root, 3L).files.toSet == before
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM graftsql.db.mor_docs GROUP BY lang ORDER BY lang""")
          .withColumn("no_rewrite", lit(noRewrite))
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          TRUE AS no_rewrite
        FROM documents WHERE doc_id < 1 OR doc_id > 50
        GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Snapshot tags: named refs through pure SQL ---------------------
    // CALL system.tag pins "the corpus this run trained on" to a name;
    // `VERSION AS OF 'name'` keeps resolving it no matter how many
    // commits (or retention sweeps — tags are vacuum-proof) scroll
    // past. The query tags the mid-lifecycle snapshot and reads both
    // latest and the tag; a ref that drifted or resolved to the wrong
    // version flips the scalar.
    QueryDef("q129_sql_tag",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q129_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.tag_docs")
        s.sql("CREATE TABLE graftsql.db.tag_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.tag_docs " +
          "SELECT doc_id, lang, n_chars FROM q129_docs WHERE doc_id % 2 = 0")
        s.sql("CALL graftsql.system.tag(" +
          "table => 'db.tag_docs', name => 'evens')")
        s.sql("INSERT INTO graftsql.db.tag_docs " +
          "SELECT doc_id, lang, n_chars FROM q129_docs WHERE doc_id % 2 = 1")
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars,
            (SELECT count(*) FROM graftsql.db.tag_docs
               VERSION AS OF 'evens') AS tagged_n
          FROM graftsql.db.tag_docs GROUP BY lang ORDER BY lang""")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
            AS tagged_n
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- OPTIMIZE ZORDER through SQL ------------------------------------
    // CALL system.zorder rewrites the table clustered by the Morton
    // interleave of (event_id, user_id) — range-normalized so both
    // dimensions get envelope locality. The `skipped` bit pins the
    // point of the exercise: after the rewrite, a point filter on
    // user_id (the dimension the natural insert order is NOT sorted
    // by) plans FEWER files than the snapshot holds — zone maps
    // skipping on the secondary dimension. Results still match the
    // relational oracle exactly.
    QueryDef("q130_sql_zorder",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type", "value")
          .createOrReplaceTempView("q130_ev")
        s.sql("DROP TABLE IF EXISTS graftsql.db.zev")
        s.sql("CREATE TABLE graftsql.db.zev (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING, value DOUBLE)")
        s.sql("INSERT INTO graftsql.db.zev " +
          "SELECT event_id, user_id, event_type, value FROM q130_ev")
        s.sql("CALL graftsql.system.zorder(table => 'db.zev', " +
          "columns => 'event_id,user_id', target_bytes => 16384)")
        val root = s.conf.get("spark.sql.catalog.graftsql.root")
          .stripSuffix("/") + "/db/zev"
        val files = Manifest
          .snapshot(s, root, Manifest.latestVersion(s, root).get)
          .files.size
        val probe = Manifest.read(s, root, None)
          .filter(col("user_id") === 7L)
        probe.collect()
        val planned = probe.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles")).map(_.value).sum
        // tiny SFs may pack into <3 files — nothing to skip there
        val skipped = files < 3 || planned < files
        s.sql("""SELECT user_id, count(*) AS n
          FROM graftsql.db.zev WHERE user_id BETWEEN 5 AND 9
          GROUP BY user_id ORDER BY user_id""")
          .withColumn("skipped", lit(skipped))
      },
      Some("""SELECT user_id, count(*) AS n, TRUE AS skipped
        FROM events WHERE user_id BETWEEN 5 AND 9
        GROUP BY user_id ORDER BY user_id"""),
      kind = QueryDef.Pipeline),

    // ---- ALTER TABLE DROP COLUMN ---------------------------------------
    // The dual of q125's ADD: dropping a column is a METADATA-ONLY
    // commit (`meta_only` pins the file list unchanged), the live
    // table stops exposing it, and the pre-drop snapshot still reads
    // every value through time travel — the correlated scalar
    // replays the dropped column's sum out of version 2.
    QueryDef("q131_sql_drop_column",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q131_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.slim")
        s.sql("CREATE TABLE graftsql.db.slim " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.slim " +
          "SELECT doc_id, lang, n_chars FROM q131_docs")
        val root = s.conf.get("spark.sql.catalog.graftsql.root")
          .stripSuffix("/") + "/db/slim"
        val before = Manifest.snapshot(s, root, 2L).files
        s.sql("ALTER TABLE graftsql.db.slim DROP COLUMN n_chars")
        val metaOnly =
          Manifest.snapshot(s, root, 3L).files == before &&
            s.table("graftsql.db.slim").columns.toSeq ==
              Seq("doc_id", "lang")
        s.sql("""SELECT lang, count(*) AS n,
            (SELECT CAST(sum(n_chars) AS BIGINT)
               FROM graftsql.db.slim VERSION AS OF 2) AS chars_v2
          FROM graftsql.db.slim GROUP BY lang ORDER BY lang""")
          .withColumn("meta_only", lit(metaOnly))
      },
      Some("""SELECT lang, count(*) AS n,
          (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
            AS chars_v2,
          TRUE AS meta_only
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Write-audit-publish -------------------------------------------
    // The corpus-drop quality gate: the odd half of `documents` is
    // STAGED off the version chain (plain readers keep seeing only
    // the evens — `staged_invisible` pins that), audited through the
    // connector's stage option (`audit_n` = base + delta, the exact
    // snapshot publishing produces), then CALL publish_stage
    // fast-forwards atomically. The final aggregate must equal the
    // whole corpus — a publish that dropped or duplicated rows flips
    // every row of the diff.
    QueryDef("q132_sql_wap",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        docs.createOrReplaceTempView("q132_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.wap_docs")
        s.sql("CREATE TABLE graftsql.db.wap_docs " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
          "PARTITIONED BY (lang)")
        s.sql("INSERT INTO graftsql.db.wap_docs " +
          "SELECT doc_id, lang, n_chars FROM q132_docs " +
          "WHERE doc_id % 2 = 0")
        val root = s.conf.get("spark.sql.catalog.graftsql.root")
          .stripSuffix("/") + "/db/wap_docs"
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "n_chars", "lang") // data cols then part
          .createOrReplaceTempView("q132_odds")
        s.sql("CALL graftsql.system.stage(table => 'db.wap_docs', " +
          "id => 'drop7', source => 'q132_odds')")
        val stagedInvisible =
          s.table("graftsql.db.wap_docs").count() ==
            docs.filter(col("doc_id") % 2 === 0).count()
        val auditN = s.read.format("graft-manifest")
          .option("stage", "drop7").load(root).count()
        s.sql("CALL graftsql.system.publish_stage(" +
          "table => 'db.wap_docs', id => 'drop7')")
        s.sql("""SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM graftsql.db.wap_docs GROUP BY lang ORDER BY lang""")
          .withColumn("staged_invisible", lit(stagedInvisible))
          .withColumn("audit_n", lit(auditN))
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars,
          TRUE AS staged_invisible,
          (SELECT count(*) FROM documents) AS audit_n
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- Aggregate pushdown from manifest zone maps --------------------
    // count(*) / count(col) / min / max over a manifest table are
    // answered entirely from commit-time footer stats: the scan emits
    // ONE driver-computed row, zero data IO at any table size. The
    // `meta_answered` bit pins that the plan actually took the
    // pushed-aggregate path (description carries pushedAggregates);
    // the values still have to match DuckDB computing them the hard way.
    QueryDef("q133_sql_agg_pushdown",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type")
          .createOrReplaceTempView("q133_ev")
        s.sql("DROP TABLE IF EXISTS graftsql.db.aggt")
        s.sql("CREATE TABLE graftsql.db.aggt (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING)")
        s.sql("INSERT INTO graftsql.db.aggt " +
          "SELECT event_id, user_id, event_type FROM q133_ev")
        val agg = s.sql("""SELECT count(*) AS n,
            min(event_id) AS lo, max(event_id) AS hi,
            count(user_id) AS n_users
          FROM graftsql.db.aggt""")
        val pushed = agg.queryExecution.executedPlan.toString
          .contains("pushedAggregates")
        agg.withColumn("meta_answered", lit(pushed))
      },
      Some("""SELECT count(*) AS n, min(event_id) AS lo,
          max(event_id) AS hi, count(user_id) AS n_users,
          TRUE AS meta_answered
        FROM events"""),
      kind = QueryDef.Pipeline),

    // ---- Storage-partitioned join --------------------------------------
    // Two manifest tables hive-partitioned by the same column report
    // KeyGroupedPartitioning; with v2 bucketing on, the join keyed on
    // that column — AND the group-by behind it — runs with ZERO
    // shuffle exchanges (`no_shuffle` pins the executed plan). At
    // 100 TB, a co-partitioned fact-fact join shuffling neither side
    // is the largest single cost this layout can delete.
    QueryDef("q134_sql_spj",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type")
          .createOrReplaceTempView("q134_ev")
        for (side <- Seq("a", "b")) {
          s.sql(s"DROP TABLE IF EXISTS graftsql.db.spj_$side")
          s.sql(s"CREATE TABLE graftsql.db.spj_$side " +
            "(user_id BIGINT, event_type STRING) " +
            "PARTITIONED BY (event_type)")
          val par = if (side == "a") 0 else 1
          s.sql(s"INSERT INTO graftsql.db.spj_$side " +
            "SELECT DISTINCT user_id, event_type FROM q134_ev " +
            s"WHERE event_id % 2 = $par AND user_id < 100")
        }
        def joined = s.table("graftsql.db.spj_a")
          .join(s.table("graftsql.db.spj_b"), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("pairs"))
        val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
          .map(k => k -> s.conf.getOption(k)).toMap
        val noShuffle =
          try {
            s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
            s.conf.set(
              "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
              "true")
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            val probe = joined
            probe.collect()
            val plan = probe.queryExecution.executedPlan match {
              case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
              case other => other
            }
            plan.collect {
              case e: org.apache.spark.sql.execution.exchange
                .ShuffleExchangeExec => e
            }.isEmpty
          } finally saved.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None)    => s.conf.unset(k)
          }
        joined.withColumn("no_shuffle", lit(noShuffle))
          .orderBy("event_type")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, event_type
            FROM events WHERE event_id % 2 = 0 AND user_id < 100),
          b AS (SELECT DISTINCT user_id, event_type
            FROM events WHERE event_id % 2 = 1 AND user_id < 100)
        SELECT a.event_type, count(*) AS pairs, TRUE AS no_shuffle
        FROM a JOIN b ON a.event_type = b.event_type
        GROUP BY a.event_type ORDER BY a.event_type"""),
      kind = QueryDef.Pipeline),

    // ---- Grouped aggregate pushdown ------------------------------------
    // GROUP BY a partition column is answered per partition tuple
    // from the manifest stats — the corpus-composition query
    // ("rows per language") with zero data IO at any table size.
    QueryDef("q135_sql_agg_groupby",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.events(s, dir)
          .select("event_id", "user_id", "event_type")
          .createOrReplaceTempView("q135_ev")
        s.sql("DROP TABLE IF EXISTS graftsql.db.aggp")
        s.sql("CREATE TABLE graftsql.db.aggp (event_id BIGINT, " +
          "user_id BIGINT, event_type STRING) " +
          "PARTITIONED BY (event_type)")
        s.sql("INSERT INTO graftsql.db.aggp " +
          "SELECT event_id, user_id, event_type FROM q135_ev")
        val agg = s.sql("""SELECT event_type, count(*) AS n,
            min(event_id) AS lo, max(user_id) AS hi_user
          FROM graftsql.db.aggp GROUP BY event_type""")
        val pushed = agg.queryExecution.executedPlan.toString
          .contains("pushedAggregates")
        agg.withColumn("meta_answered", lit(pushed))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, min(event_id) AS lo,
          max(user_id) AS hi_user, TRUE AS meta_answered
        FROM events GROUP BY event_type ORDER BY event_type"""),
      kind = QueryDef.Pipeline),

    // ---- Queryable metadata tables: db.t.partitions / .files ----------
    // Iceberg-style dotted metadata relations, driver-computed from
    // the manifests (zero data IO, LocalScan → no tasks). Oracle pins
    // the per-partition PHYSICAL row counts against the source; the
    // files-vs-partitions rollup consistency rides as an invariant
    // bit (file COUNT is write-shape-dependent, so only its
    // consistency is asserted, never the number).
    QueryDef("q146_metadata_tables",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.events(s, dir)
          .select("event_id", "event_type", "value")
          .createOrReplaceTempView("q146_ev")
        s.sql("DROP TABLE IF EXISTS graftsql.db.metat")
        s.sql("CREATE TABLE graftsql.db.metat (event_id BIGINT, " +
          "event_type STRING, value DOUBLE) PARTITIONED BY (event_type)")
        s.sql("INSERT INTO graftsql.db.metat " +
          "SELECT event_id, event_type, value FROM q146_ev")
        s.sql("""SELECT p.partition, p.row_count,
            (p.row_count = f.rc AND p.files = f.nf) AS files_consistent
          FROM graftsql.db.metat.partitions p
          JOIN (SELECT partition, sum(row_count) AS rc, count(*) AS nf
            FROM graftsql.db.metat.files GROUP BY partition) f
          ON p.partition = f.partition
          ORDER BY p.partition""")
      },
      Some("""SELECT 'event_type=' || event_type AS partition,
          count(*) AS row_count, TRUE AS files_consistent
        FROM events GROUP BY event_type ORDER BY 1"""),
      kind = QueryDef.Pipeline),

    // ---- Row-level CDC across merge-on-read deletes --------------------
    // readChanges fails loudly across a MoR delete commit (file-level
    // feeds cannot express retractions); readChangesCdc is the
    // honest upgrade: inserts re-emit added files stamped with their
    // commit version, the delete commit emits its KEY TUPLES as
    // 'delete' rows (non-key columns NULL — keys are all a MoR delete
    // stores). Replayed in _commit_version order the feed reproduces
    // the table exactly; the oracle rebuilds both halves relationally.
    QueryDef("q136_cdc_mor_deletes",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        val root = "file://" + graft.TempRoots.create("graft_cdc") + "/t"
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang"))   // v1
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))   // v2
        Manifest.deleteByKeys(s, root,
          docs.filter(col("doc_id") % 10 === 0).select("doc_id")) // v3
        Manifest.readChangesCdc(s, root, from = 1L)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("_change_type"), col("_commit_version"))
          .orderBy("_commit_version", "doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars,
          'insert' AS _change_type,
          CAST(2 AS BIGINT) AS _commit_version
        FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
          'delete', CAST(3 AS BIGINT)
        FROM documents WHERE doc_id % 10 = 0
        ORDER BY _commit_version, doc_id"""),
      kind = QueryDef.Pipeline),

    // ---- CDC streaming source ------------------------------------------
    // The streaming half of q136: option("cdc","true") turns the
    // manifest stream into a retraction-aware feed. Run 1 replays the
    // snapshot as inserts; an append AND a merge-on-read delete land
    // while the stream is down; run 2 crosses the delete commit —
    // which the plain stream refuses — emitting the insert delta plus
    // the delete keys as retraction rows, all stamped with their
    // commit version.
    QueryDef("q137_cdc_stream",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_cdcs")
        val root = s"$base/t"
        val sink = s"$base/sink"
        val ckpt = s"$base/ckpt"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root,
          docs.filter(col("doc_id") % 2 === 0), Seq("lang")) // v1
        def runOnce(run: String): Unit = {
          val q = s.readStream.format("graft-manifest")
            .option("cdc", "true").load(root)
            .writeStream
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.withColumn("run", lit(run))
                  .write.mode("append").parquet(sink); ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce("run1") // snapshot replay: evens as inserts @v1
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))  // v2
        Manifest.deleteByKeys(s, root,
          docs.filter(col("doc_id") % 10 === 0).select("doc_id")) // v3
        runOnce("run2") // odd inserts @v2 + delete keys @v3
        s.read.parquet(sink)
          .groupBy("run", "_change_type", "_commit_version")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars"))
          .orderBy("run", "_change_type")
      },
      Some("""SELECT 'run1' AS run, 'insert' AS _change_type,
          CAST(1 AS BIGINT) AS _commit_version, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'run2', 'delete', CAST(3 AS BIGINT), count(*),
          CAST(NULL AS BIGINT)
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT 'run2', 'insert', CAST(2 AS BIGINT), count(*),
          CAST(sum(n_chars) AS BIGINT)
        FROM documents WHERE doc_id % 2 = 1
        ORDER BY run, _change_type"""),
      kind = QueryDef.Pipeline),

    // ---- Metadata columns: row-level lineage ---------------------------
    // `SELECT _commit_version FROM t` stamps every row with the commit
    // that added it — straight from the manifest's per-file facts,
    // zero extra IO. Two INSERTs land as v2/v3; grouping by the
    // lineage column must reproduce each commit's exact footprint.
    QueryDef("q138_metadata_columns",
      (s, dir) => {
        s.conf.set("spark.sql.catalog.graftsql",
          classOf[graft.sources.connector.ManifestCatalog].getName)
        if (s.conf.getOption("spark.sql.catalog.graftsql.root").isEmpty)
          s.conf.set("spark.sql.catalog.graftsql.root",
            "file://" + graft.TempRoots.create("graft_sqlcat"))
        Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView("q138_docs")
        s.sql("DROP TABLE IF EXISTS graftsql.db.lin")
        s.sql("CREATE TABLE graftsql.db.lin " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT)")    // v1
        s.sql("INSERT INTO graftsql.db.lin " +
          "SELECT doc_id, lang, n_chars FROM q138_docs " +
          "WHERE doc_id % 2 = 0")                            // v2
        s.sql("INSERT INTO graftsql.db.lin " +
          "SELECT doc_id, lang, n_chars FROM q138_docs " +
          "WHERE doc_id % 2 = 1")                            // v3
        s.sql("""SELECT _commit_version, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM graftsql.db.lin
          GROUP BY _commit_version ORDER BY _commit_version""")
      },
      Some("""SELECT CAST(2 AS BIGINT) AS _commit_version,
          count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
          CAST(sum(n_chars) AS BIGINT)
        FROM documents WHERE doc_id % 2 = 1
        ORDER BY _commit_version"""),
      kind = QueryDef.Pipeline),

    // ---- Top-N pushdown: ORDER BY + LIMIT answered from a file subset --
    // A single-key ORDER BY … LIMIT n over a manifest table plans only
    // the files whose zone maps can reach the top-n (SupportsPushDownTopN,
    // partial: Spark still runs the real sort over the survivors). The
    // rank key is made unique (n_chars ⊕ doc_id) so the result is
    // deterministic under any engine's tie-breaking.
    QueryDef("q139_topn_pushdown",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_topn") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("rank_key",
            col("n_chars") * lit(1000000L) + col("doc_id"))
        Manifest.init(s, root, docs.filter(col("doc_id") % 2 === 0))
        Manifest.commitAppend(s, root,
          docs.filter(col("doc_id") % 2 === 1))
        s.read.format("graft-manifest").load(root)
          .orderBy(col("rank_key").desc).limit(10)
          .select("doc_id", "rank_key")
      },
      Some("""SELECT doc_id,
          CAST(n_chars * 1000000 + doc_id AS BIGINT) AS rank_key
        FROM documents ORDER BY rank_key DESC LIMIT 10"""),
      kind = QueryDef.Pipeline),

    // ---- Runtime (dynamic) file pruning through a join ----------------
    // The fact side is a lang-partitioned manifest table; the dim side
    // is a stored table with a selective predicate. Spark hands the
    // scan the dim's surviving join keys at EXECUTION time
    // (SupportsRuntimeFiltering) and the scan drops every other
    // partition's files before any task launches — dynamic partition
    // pruning with zero user hints.
    QueryDef("q140_runtime_filter_join",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_dpp") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root, docs, Seq("lang"))
        val dimPath = graft.TempRoots.create("graft_dpp_dim") + "/dim"
        docs.select("lang").distinct().write.parquet(dimPath)
        val dim = s.read.parquet(dimPath).filter(col("lang") < "f")
        s.read.format("graft-manifest").load(root)
          .join(dim, "lang")
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT d.lang, count(*) AS n,
          CAST(sum(d.n_chars) AS BIGINT) AS chars
        FROM documents d
        JOIN (SELECT DISTINCT lang FROM documents WHERE lang < 'f') x
          ON d.lang = x.lang
        GROUP BY d.lang ORDER BY d.lang"""),
      kind = QueryDef.Pipeline),

    // ---- Branches: writable forks of the version chain ----------------
    // Fork the corpus, append an experimental drop on the fork (main's
    // readers see nothing), then fast-forward main to the audited
    // branch head — write-audit-publish generalized to a multi-commit
    // experiment. The three scoped aggregates pin each visibility
    // boundary: main before (evens only), the branch head (all), main
    // after the merge (all).
    QueryDef("q141_branch_fork_merge",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_branch") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, root, docs.filter(col("doc_id") % 2 === 0))
        Manifest.createBranch(s, root, "exp")               // fork @v1
        Manifest.commitAppendBranch(s, root, "exp",
          docs.filter(col("doc_id") % 2 === 1))             // branch v2
        def agg(df: org.apache.spark.sql.DataFrame, scope: String) =
          df.agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars")).withColumn("scope", lit(scope))
        val mainBefore = agg(Manifest.read(s, root), "a_main_before")
        val branchHead = agg(s.read.format("graft-manifest")
          .option("branch", "exp").load(root), "b_branch")
        Manifest.fastForward(s, root, "exp")
        val mainAfter = agg(Manifest.read(s, root), "c_main_after")
        mainBefore.unionByName(branchHead).unionByName(mainAfter)
          .select("scope", "n", "chars").orderBy("scope")
      },
      Some("""SELECT 'a_main_before' AS scope, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'b_branch', count(*), CAST(sum(n_chars) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'c_main_after', count(*), CAST(sum(n_chars) AS BIGINT)
        FROM documents
        ORDER BY scope"""),
      kind = QueryDef.Pipeline),

    // ---- Incrementally-maintained materialized aggregate --------------
    // The corpus-composition view (per-language doc count + char sum)
    // maintained across an append and a copy-on-write merge with
    // refresh cost ∝ changed files, never a source rescan. The final
    // contents must equal a from-scratch aggregate of the final table.
    QueryDef("q142_materialized_agg",
      (s, dir) => {
        val src = "file://" + graft.TempRoots.create("graft_mv_src") + "/t"
        val mv = "file://" + graft.TempRoots.create("graft_mv") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, src, docs.filter(col("doc_id") % 2 === 0),
          Seq("lang"))
        graft.sources.MaterializedAgg.create(s, src, mv,
          Seq("lang"), Seq("n_chars"), buckets = 8)
        Manifest.commitAppend(s, src,
          docs.filter(col("doc_id") % 2 === 1), Seq("lang"))
        graft.sources.MaterializedAgg.refresh(s, src, mv)
        Manifest.mergeInto(s, src,
          docs.filter(col("doc_id") % 10 === 0)
            .withColumn("n_chars", col("n_chars") + 1000),
          "doc_id", "lang")
        graft.sources.MaterializedAgg.refresh(s, src, mv)
        // churn wave: keyed merge-on-read ERASURE, retracted from the
        // partials incrementally (per-commit replay, sign −1) — the
        // view never rescans the table
        Manifest.deleteByKeys(s, src,
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
        graft.sources.MaterializedAgg.refresh(s, src, mv)
        graft.sources.MaterializedAgg.read(s, mv)
          .select("lang", "mv_count", "sum_n_chars").orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS mv_count,
          CAST(sum(n_chars + CASE WHEN doc_id % 10 = 0 THEN 1000
            ELSE 0 END) AS BIGINT) AS sum_n_chars
        FROM documents WHERE doc_id % 7 <> 3
        GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- per-file Bloom sidecars: point-lookup file pruning where zone
    // maps cannot help. Orders are committed in four stripes keyed by
    // o_orderkey % 4, so every file's o_custkey [min,max] envelope spans
    // the whole domain — the planning-time bloom probe is the ONLY thing
    // standing between `WHERE o_custkey IN (...)` and a full-table scan
    // (ManifestBloomsSpec asserts the planned-file count; here the
    // oracle proves the pruned read returns exactly the right rows).
    QueryDef("q192_bloom_lookup",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_bloom") + "/orders"
        val o = Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Manifest.init(s, root,
          o.filter(col("o_orderkey") % 4 === 0).coalesce(1))
        for (k <- 1 to 3)
          Manifest.commitAppend(s, root,
            o.filter(col("o_orderkey") % 4 === k).coalesce(1))
        graft.sources.ManifestBlooms.build(s, root, Seq("o_custkey"))
        s.read.format("graft-manifest").load(root)
          .filter(col("o_custkey").isin(7L, 42L, 101L))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_custkey IN (7, 42, 101)
        ORDER BY o_orderkey"""),
      kind = QueryDef.Pipeline),

    // ---- CLONE: zero-copy snapshot-and-diverge (the ES snapshot/
    // restore + Delta CLONE analog). Source starts as ⅔ of documents,
    // is shallow-cloned (manifest references only — no bytes move),
    // then BOTH sides diverge: the source gains the remaining third,
    // the clone MoR-deletes doc_id%5 rows. The unioned per-side rollup
    // proves the clone pinned its snapshot (source's append invisible)
    // and the delete touched only the clone — all reconstructable in
    // SQL over the documents table.
    QueryDef("q193_clone_snapshot",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_clone")
        val src = s"$base/src"
        val cl = s"$base/clone"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, src,
          docs.filter(col("doc_id") % 3 =!= 0), Seq("lang"))
        Manifest.cloneTable(s, src, cl)
        Manifest.commitAppend(s, src,
          docs.filter(col("doc_id") % 3 === 0), Seq("lang"))
        Manifest.deleteByKeys(s, cl,
          docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
        def side(root: String, name: String) =
          Manifest.read(s, root).groupBy("lang")
            .agg(count(lit(1)).as("n"),
              sum("n_chars").as("chars"))
            .withColumn("side", lit(name))
        side(src, "src").unionByName(side(cl, "clone"))
          .select("side", "lang", "n", "chars")
          .orderBy("side", "lang")
      },
      Some("""SELECT side, lang, n, chars FROM (
          SELECT 'src' AS side, lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY lang
          UNION ALL
          SELECT 'clone' AS side, lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents
          WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0
          GROUP BY lang)
        ORDER BY side, lang"""),
      kind = QueryDef.Pipeline),

    // ---- incrementally-maintained JOIN view: fact ⋈ dim kept fresh
    // through appends AND join-key deletes on BOTH sides without
    // re-joining the tables. Lifecycle: ⅔ of orders ⋈ half the
    // customers, then the remaining orders land (ΔL ⋈ R_head), then
    // the remaining customers land (L_base ⋈ ΔR), then a churn wave
    // ERASES every custkey ≡ 3 (mod 10) from the dim — propagated to
    // the view as a merge-on-read delete of the same keys, zero view
    // rewrite. Three incremental refreshes whose net must equal the
    // full join of the final states, which is exactly what the oracle
    // recomputes. Integer sums keep the rollup exact.
    QueryDef("q196_materialized_join",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_mvj")
        val l = s"$base/fact"; val r = s"$base/dim"
        val mv = s"$base/mv"
        val o = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_custkey").as("custkey"), col("o_totalprice"))
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_name"),
            col("c_mktsegment"))
        Manifest.init(s, l, o.filter(col("o_orderkey") % 3 =!= 0))
        Manifest.init(s, r, c.filter(col("custkey") % 2 === 0))
        graft.sources.MaterializedJoin.create(s, l, r, mv,
          Seq("custkey"), buckets = 8)
        Manifest.commitAppend(s, l,
          o.filter(col("o_orderkey") % 3 === 0))
        graft.sources.MaterializedJoin.refresh(s, mv)
        Manifest.commitAppend(s, r,
          c.filter(col("custkey") % 2 === 1))
        graft.sources.MaterializedJoin.refresh(s, mv)
        Manifest.deleteByKeys(s, r,
          c.filter(col("custkey") % 10 === 3).select("custkey"))
        graft.sources.MaterializedJoin.refresh(s, mv)
        graft.sources.MaterializedJoin.read(s, mv)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").as("sum_ok"),
            sum("custkey").as("sum_ck"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
          CAST(sum(c_custkey) AS BIGINT) AS sum_ck
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey % 10 <> 3
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      kind = QueryDef.Pipeline),

    // ---- CHECK constraints (the Delta ADD CONSTRAINT analog): an
    // ingestion-time quality gate every later commit must pass — the
    // probe is one bounded job over the COMMIT's rows, never the
    // table. The lifecycle plants a poisoned batch (a synthetic row
    // violating the gate rides an otherwise-clean append) and proves
    // the WHOLE batch is refused before anything publishes: the final
    // rollup hash-equals the oracle over exactly the clean rows, which
    // only holds if the poisoned append left no trace and the clean
    // retry landed once.
    QueryDef("q201_check_constraints",
      (s, dir) => {
        val root = "file://" + graft.TempRoots.create("graft_check") + "/t"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        val half1 = docs.filter(col("doc_id") % 2 === 0)
        val half2 = docs.filter(col("doc_id") % 2 === 1)
        Manifest.init(s, root, half1)
        Manifest.addConstraint(s, root, "quality",
          "n_chars >= 0 AND lang IS NOT NULL")
        val poisoned = half2.unionByName(
          s.range(1).select(lit(-1L).as("doc_id"),
            lit(null).cast("string").as("lang"),
            lit(-999L).as("n_chars")))
        val refused =
          try { Manifest.commitAppend(s, root, poisoned); false }
          catch {
            case _: Manifest.ConstraintViolationException => true
          }
        require(refused, "the poisoned batch must be refused")
        Manifest.commitAppend(s, root, half2)
        Manifest.read(s, root).groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang ORDER BY lang"""),
      kind = QueryDef.Pipeline),

    // ---- CONTINUOUS join-view maintenance: the fact side arrives as a
    // STREAM (exactly-once epoch-deduped commits), and each micro-batch
    // advances the view through the pure-append delta path — the
    // deployment shape of a "keep the enriched fact fresh" pipeline.
    // Every wave drains as one batch; the final view must equal the
    // full join of everything ingested, which the oracle recomputes.
    QueryDef("q200_stream_join_mv",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_sjm")
        val l = "file://" + root + "/fact"
        val r = "file://" + root + "/dim"
        val mv = "file://" + root + "/mv"
        val o = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"),
            col("o_custkey").as("custkey"), col("o_totalprice"))
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_name"),
            col("c_mktsegment"))
        Manifest.init(s, r, c)
        Manifest.init(s, l, o.filter(col("o_orderkey") % 3 === 0))
        graft.sources.MaterializedJoin.create(s, l, r, mv,
          Seq("custkey"), buckets = 8)
        val schema = o.schema
        def drain(): Unit = IngestStream
          .rawStream(s, s"$root/raw", schema, "parquet",
            maxFilesPerTrigger = 100000)
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.DataFrame, id: Long) =>
              Manifest.commitStreamBatch(s, l, b, "ingest", id)
              graft.sources.MaterializedJoin.refresh(s, mv)
              ()
          }
          .start().awaitTermination()
        o.filter(col("o_orderkey") % 3 === 1)
          .write.mode("append").parquet(s"$root/raw")
        drain()
        o.filter(col("o_orderkey") % 3 === 2)
          .write.mode("append").parquet(s"$root/raw")
        drain()
        graft.sources.MaterializedJoin.read(s, mv)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").as("sum_ok"),
            sum("custkey").as("sum_ck"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
          CAST(sum(c_custkey) AS BIGINT) AS sum_ck
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      kind = QueryDef.Pipeline),

    // ---- EXPECTATION-style quarantine ingest (the DLT
    // expect-or-quarantine / dead-letter-queue pattern): a batch with
    // deterministically-planted corruption splits against the table's
    // CHECK constraints — clean rows commit, violators land in the
    // quarantine table stamped with the names of the constraints they
    // broke (rows breaking both carry both, name-sorted). The oracle
    // recomputes both sides from the corruption rule; hash-equality
    // proves the split is exact and nothing bad reached the table.
    QueryDef("q204_quarantine_ingest",
      (s, dir) => {
        val base = "file://" + graft.TempRoots.create("graft_quar")
        val t = s"$base/t"; val q = s"$base/q"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, t, docs.filter(col("doc_id") % 2 === 0))
        Manifest.addConstraint(s, t, "chars_pos", "n_chars >= 0")
        Manifest.addConstraint(s, t, "lang_set", "lang IS NOT NULL")
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .withColumn("n_chars",
            when((col("doc_id") % 31).isin(1, 3),
              -col("n_chars") - 1).otherwise(col("n_chars")))
          .withColumn("lang",
            when((col("doc_id") % 31).isin(2, 3),
              lit(null).cast("string")).otherwise(col("lang")))
        graft.operators.Ingest.appendWithQuarantine(s, t, batch, q)
        val kept = Manifest.read(s, t)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
          .select(lit("kept").as("side"), col("lang").as("k"),
            col("n"), col("sum_chars"))
        val quar = Manifest.read(s, q)
          .groupBy(col("violations"))
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
          .select(lit("quarantined").as("side"),
            col("violations").as("k"), col("n"), col("sum_chars"))
        kept.unionByName(quar).orderBy("side", "k")
      },
      Some("""WITH odd AS (SELECT doc_id,
            CASE WHEN doc_id % 31 IN (1, 3) THEN -n_chars - 1
              ELSE n_chars END AS n_chars,
            CASE WHEN doc_id % 31 IN (2, 3) THEN NULL
              ELSE lang END AS lang
          FROM documents WHERE doc_id % 2 = 1),
        kept AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT lang, n_chars FROM odd
          WHERE n_chars >= 0 AND lang IS NOT NULL),
        quar AS (SELECT
            CASE WHEN n_chars < 0 AND lang IS NULL
                THEN 'chars_pos,lang_set'
              WHEN n_chars < 0 THEN 'chars_pos'
              ELSE 'lang_set' END AS k,
            n_chars
          FROM odd WHERE NOT (n_chars >= 0 AND lang IS NOT NULL))
        SELECT side, k, n, sum_chars FROM (
          SELECT 'kept' AS side, lang AS k, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM kept GROUP BY 2
          UNION ALL
          SELECT 'quarantined', k, count(*),
            CAST(sum(n_chars) AS BIGINT)
          FROM quar GROUP BY 2)
        ORDER BY side, k"""),
      kind = QueryDef.Pipeline),

    // ---- STREAMING quarantine ingest — q204's expectation split in
    // its deployment shape (the reference's ingest is event-driven,
    // S8): two corrupted waves drain through sequential AvailableNow
    // rounds over ONE checkpoint; each micro-batch splits against the
    // table's CHECK constraints and commits BOTH sides exactly-once
    // (per-table (queryId, batchId) high-water marks), so a poisoned
    // batch quarantines instead of stalling the stream. After the
    // drains, an already-committed epoch is REPLAYED directly against
    // the sink — both marks are past it, so both commits no-op; the
    // once-only oracle is the proof (a leaked replay doubles wave-1
    // counts and hash-fails).
    QueryDef("q205_stream_quarantine",
      (s, dir) => {
        val root = graft.TempRoots.create("graft_squar")
        val t = "file://" + root + "/t"; val q = "file://" + root + "/q"
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        Manifest.init(s, t, docs.filter(col("doc_id") % 2 === 0))
        Manifest.addConstraint(s, t, "chars_pos", "n_chars >= 0")
        Manifest.addConstraint(s, t, "lang_set", "lang IS NOT NULL")
        val odd = docs.filter(col("doc_id") % 2 === 1)
          .withColumn("n_chars",
            when((col("doc_id") % 31).isin(1, 3),
              -col("n_chars") - 1).otherwise(col("n_chars")))
          .withColumn("lang",
            when((col("doc_id") % 31).isin(2, 3),
              lit(null).cast("string")).otherwise(col("lang")))
        val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
        val schema = odd.schema
        def drain(): Unit =
          IngestStream.rawStream(s, s"$root/raw", schema, "parquet",
            maxFilesPerTrigger = 100000)
            .writeStream
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow())
            .foreachBatch {
              (b: org.apache.spark.sql.DataFrame, id: Long) =>
                Ingest.streamBatchWithQuarantine(s, t, b, q,
                  "ingest", id)
                ()
            }
            .start().awaitTermination()
        odd.filter(col("doc_id") <= cut)
          .write.mode("append").parquet(s"$root/raw")
        drain()
        odd.filter(col("doc_id") > cut)
          .write.mode("append").parquet(s"$root/raw")
        drain()
        // replay epoch 0 against the sink: no-op on BOTH tables
        Ingest.streamBatchWithQuarantine(s, t,
          odd.filter(col("doc_id") <= cut), q, "ingest", 0L)
        val kept = Manifest.read(s, t)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
          .select(lit("kept").as("side"), col("lang").as("k"),
            col("n"), col("sum_chars"))
        val quar = Manifest.read(s, q)
          .groupBy(col("violations"))
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
          .select(lit("quarantined").as("side"),
            col("violations").as("k"), col("n"), col("sum_chars"))
        kept.unionByName(quar).orderBy("side", "k")
      },
      Some("""WITH odd AS (SELECT doc_id,
            CASE WHEN doc_id % 31 IN (1, 3) THEN -n_chars - 1
              ELSE n_chars END AS n_chars,
            CASE WHEN doc_id % 31 IN (2, 3) THEN NULL
              ELSE lang END AS lang
          FROM documents WHERE doc_id % 2 = 1),
        kept AS (
          SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT lang, n_chars FROM odd
          WHERE n_chars >= 0 AND lang IS NOT NULL),
        quar AS (SELECT
            CASE WHEN n_chars < 0 AND lang IS NULL
                THEN 'chars_pos,lang_set'
              WHEN n_chars < 0 THEN 'chars_pos'
              ELSE 'lang_set' END AS k,
            n_chars
          FROM odd WHERE NOT (n_chars >= 0 AND lang IS NOT NULL))
        SELECT side, k, n, sum_chars FROM (
          SELECT 'kept' AS side, lang AS k, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM kept GROUP BY 2
          UNION ALL
          SELECT 'quarantined', k, count(*),
            CAST(sum(n_chars) AS BIGINT)
          FROM quar GROUP BY 2)
        ORDER BY side, k"""),
      kind = QueryDef.Pipeline))
}
